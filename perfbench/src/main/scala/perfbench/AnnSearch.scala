package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.vector.{Ivf, Pq}

/** IVF search over a seeded Gaussian-mixture corpus. Set-up trains the
  * coarse centroids and the residual PQ codebooks; query batches then
  * alternate between `Ivf.ivfTopK` and `Pq.ivfAdcTopK` with k = 10.
  * Every result is checked against exact brute force in plain JVM code
  * (recall@10 is reported with the speed, never without it). */
object AnnSearch extends Workload {
  val name = "ann_search"
  val Spans: Seq[String] = Seq("vector.ivf_topk", "vector.ivf_adc_topk")
  val Suffixes: Seq[String] = Seq("ms", "jobs", "shuffle_mb", "busy")

  val Dim = 64
  val K = 10
  /** Recall@10 floor against exact search, per search kind. */
  val RecallFloor: Map[String, Double] = Map("ivf" -> 0.85, "adc" -> 0.60)

  final case class Size(n: Int, clusters: Int, cells: Int, probes: Int,
      batch: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(n = 2000, clusters = 16, cells = 64, probes = 8, batch = 16)
    else Size(n = 8000, clusters = 48, cells = 256, probes = 12, batch = 32)

  /** Mixture: cluster centres ~ N(0, 1) per component, members at
    * centre + 0.35 * N(0, 1); cluster of vector i drawn at random. */
  def corpus(seed: Long, s: Size): Array[Array[Float]] = {
    val rng = new java.util.Random(seed * 31L + 5L)
    val centres = Array.fill(s.clusters, Dim)(rng.nextGaussian())
    Array.fill(s.n) {
      val c = centres(rng.nextInt(s.clusters))
      Array.tabulate(Dim)(d => (c(d) + 0.35 * rng.nextGaussian()).toFloat)
    }
  }

  def frame(spark: SparkSession, vecs: Array[Array[Float]]): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 8), schema)
  }

  /** Cosine as the program computes it: double dot over float inputs. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Exact top-k ids by cosine (desc, ties to the lower id), self excluded. */
  def exactTopK(vecs: Array[Array[Float]], q: Int): Seq[Long] = {
    val best = Array.fill(K)(-1); val score = Array.fill(K)(Double.NegativeInfinity)
    var i = 0
    while (i < vecs.length) {
      if (i != q) {
        val c = cosine(vecs(q), vecs(i))
        // ids arrive in ascending order, so a tie never displaces
        if (c > score(K - 1)) {
          var j = K - 1
          while (j > 0 && score(j - 1) < c) {
            score(j) = score(j - 1); best(j) = best(j - 1); j -= 1
          }
          score(j) = c; best(j) = i
        }
      }
      i += 1
    }
    best.toSeq.map(_.toLong)
  }

  final case class Batch(kind: String, queries: Seq[Int], rows: Array[Row],
      candidates: Option[Long])

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = size(ctx.smoke)
    val vecs = corpus(ctx.seed, s)
    val raw = frame(spark, vecs)
    var corpusDf: DataFrame = null
    var coarse: Array[Array[Double]] = null
    var books: Array[Array[Array[Double]]] = null
    val layer = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val setup = (1 to 3).map { _ =>
      if (corpusDf != null) corpusDf.unpersist(true)
      Loop.time {
        corpusDf = raw.persist(StorageLevel.MEMORY_AND_DISK)
        corpusDf.count()
        val (c, cTook) = Loop.time(ctx.span("vector.train_centroids") {
          Ivf.trainCentroids(corpusDf, s.cells) })
        val (b, bTook) = Loop.time(ctx.span("vector.train_codebooks") {
          Pq.trainResidualCodebooks(corpusDf, c, dim = Dim) })
        coarse = c; books = b
        layer("vector.train_centroids.ms") =
          layer.getOrElse("vector.train_centroids.ms", Nil) :+ cTook.wallMs
        layer("vector.train_codebooks.ms") =
          layer.getOrElse("vector.train_codebooks.ms", Nil) :+ bTook.wallMs
      }._2
    }
    val rng = new java.util.Random(ctx.seed + 99)
    def search(kind: String): Batch = {
      val qs = Seq.fill(s.batch)(rng.nextInt(s.n)).distinct
      val qdf = corpusDf.filter(col("vec_id").isin(qs.map(_.toLong): _*))
      val df =
        if (kind == "ivf")
          Ivf.ivfTopK(corpusDf, qdf, k = K, nProbe = s.probes, trained = Some(coarse))
        else
          Pq.ivfAdcTopK(corpusDf, qdf, coarse, books, dim = Dim, k = K, nProbe = s.probes)
      val rows = df.collect()
      val cand = if (ctx.traced) Tracer.rowsIntoTopWindow(df.queryExecution.executedPlan)
        else None
      Batch(kind, qs, rows, cand)
    }
    val batches = Seq.newBuilder[Batch]
    // no warm-up: like the other workloads, a run times the first
    // operations of a fresh process
    val mbs = Seq.newBuilder[Double]
    val loop = Loop.closed(ctx.seconds) { () =>
      Seq("ivf" -> "vector.ivf_topk", "adc" -> "vector.ivf_adc_topk").map {
        case (kind, span) =>
          val (b, took) = Loop.time(ctx.span(span)(search(kind)))
          batches += b
          mbs += ctx.cachedMb
          took
      }
    }
    val all = batches.result()
    val recall = scala.collection.mutable.Map.empty[String, (Long, Long)]
    ctx.verify("ann_search") {
      all.zipWithIndex.foreach { case (b, i) =>
        val rows =
          if (i == 0 && ctx.corrupting("dropped_neighbour")) b.rows.drop(1)
          else if (i == 0 && ctx.corrupting("wrong_cosine"))
            b.rows.updated(0, Row(b.rows(0).getLong(0), b.rows(0).getLong(1),
              b.rows(0).getLong(2), b.rows(0).getDouble(3) - 1e-4))
          else b.rows
        val hits = check(vecs, b.queries, rows)
        val (h, n) = recall.getOrElse(b.kind, (0L, 0L))
        recall(b.kind) = (h + hits, n + b.queries.size.toLong * K)
      }
      recall.foreach { case (kind, (h, n)) =>
        Check(h.toDouble / n >= RecallFloor(kind),
          f"$kind recall@10 ${h.toDouble / n}%.4f below ${RecallFloor(kind)}")
      }
    }
    val (hits, total) = recall.values.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val cands = all.flatMap(_.candidates)
    val layers = layer.map { case (k, v) => k -> Stats.median(v) }.toMap ++ Map(
      "vector.recall_at_10" -> (if (total == 0) 0.0 else hits.toDouble / total),
      "vector.candidates_per_result" ->
        (if (cands.isEmpty) 0.0 else cands.sum.toDouble / all.map(_.rows.length).sum))
    Outcome(setup, loop, mbs.result(), layers,
      Map("candidates" -> all.map(b => b.kind + ":" + b.candidates.getOrElse(-1L) + "/" +
          b.rows.length), "n" -> s.n, "cells" -> s.cells, "probes" -> s.probes, "batch" -> s.batch,
        "recall" -> recall.map { case (k, (h, n)) => k -> h.toDouble / n }.toMap))
  }

  /** Checks one batch; returns the number of exact top-10 ids found. */
  def check(vecs: Array[Array[Float]], queries: Seq[Int], rows: Array[Row]): Long = {
    val byQ = rows.groupBy(_.getLong(0))
    queries.map { q =>
      val rs = byQ.getOrElse(q.toLong, Array.empty[Row]).sortBy(_.getLong(1))
      val ids = rs.map(_.getLong(2))
      Check(rs.length == K && rs.map(_.getLong(1)).toSeq == (1L to K.toLong),
        s"query $q got ${rs.length} ranked neighbours")
      Check(ids.distinct.length == K && !ids.contains(q.toLong),
        s"query $q neighbours not distinct or include itself")
      rs.foreach { r =>
        val c = cosine(vecs(q), vecs(r.getLong(2).toInt))
        Check(math.abs(r.getDouble(3) - c) <= 5e-7 + 1e-12,
          s"cosine of ($q, ${r.getLong(2)}): ${r.getDouble(3)} vs $c")
      }
      exactTopK(vecs, q).count(ids.contains).toLong
    }.sum
  }
}
