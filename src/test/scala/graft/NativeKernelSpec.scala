package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.text.{Cdc, TextOps}
import graft.vector.{Ivf, Similarity}

/** The DataFrame helpers build graft's kernels as Catalyst expressions
  * directly, so their plans carry the native kernel whether or not the
  * session registered [[GraftExtensions]]. */
class NativeKernelSpec extends AnyFunSuite with SparkSpec {

  test("kernel helpers plan the native kernels in a session without " +
      "GraftExtensions") {
    val bare = org.apache.spark.sql.graftbridge.BareSession(spark.sparkContext)
    assert(!bare.catalog.functionExists(GraftExtensions.TokensName))
    assert(!bare.catalog.functionExists(GraftExtensions.DotName))
    SparkSession.setActiveSession(bare)
    try {
      import bare.implicits._
      // RDD-backed, so the optimizer cannot fold the kernels away
      def rows[T](xs: T*)(implicit ct: scala.reflect.ClassTag[T]) =
        bare.sparkContext.parallelize(xs, 1)
      val docs = rows((1L, "<p>Un  Café <b>noir</b> ici</p>",
          "HTTP://Ex.COM:80/a/../b#frag", Seq(1.0f, 2.0f), Seq(3.0f, -4.0f),
          "a byte payload long enough to chunk".getBytes("UTF-8")))
        .toDF("id", "html", "url", "a", "b", "bin")
      val text = TextOps.normalizeText(TextOps.htmlToText(col("html")))
      val q = docs.select(
        TextOps.tokens(text).as("toks"),
        TextOps.hofTokens(text).as("hof_toks"),
        TextOps.shingleSeq(TextOps.tokens(text), 2).as("sh"),
        TextOps.hofShingleSeq(TextOps.tokens(text), 2).as("hof_sh"),
        TextOps.hash56(text).as("h"),
        TextOps.hofHash56(text).as("hof_h"),
        TextOps.canonicalizeUrl(col("url")).as("u"),
        Similarity.dot(col("a"), col("b")).as("d"),
        Similarity.hofDot(col("a"), col("b")).as("hof_d"),
        Ivf.cellDistsLiteral(col("a"),
          Array(Array(0.0, 0.0), Array(1.0, 2.0))).as("cd"))
      val plan = q.queryExecution.executedPlan.toString
      Seq("graft_html_text", "graft_textnorm", "graft_tokens",
          "graft_shingle_seq", "graft_hash56", "graft_url_canon",
          "graft_dot", "graft_l2sq_cells").foreach { k =>
        assert(plan.contains(k), s"$k missing from the plan:\n$plan")
      }
      val r = q.head()
      def strs(c: String) = r.getAs[scala.collection.Seq[String]](c)
      assert(strs("toks").nonEmpty && strs("toks") === strs("hof_toks"))
      assert(strs("sh") === strs("hof_sh"))
      assert(r.getAs[Long]("h") === r.getAs[Long]("hof_h"))
      assert(r.getAs[String]("u") === "http://ex.com/b")
      assert(r.getAs[Double]("d") === -5.0 && r.getAs[Double]("hof_d") === -5.0)
      assert(r.getAs[scala.collection.Seq[Double]]("cd") === Seq(5.0, 0.0))

      val chunks = Cdc.byteChunks(docs, "bin", maskBits = 2, idCol = "id")
      assert(chunks.queryExecution.executedPlan.toString
        .contains("graft_gear_chunks"))
      assert(chunks.agg(sum("len")).head().getLong(0) ===
        "a byte payload long enough to chunk".length.toLong)

      val vecs = rows((1L, Seq(1.0f, 0.5f)), (2L, Seq(0.9f, 0.6f)),
        (3L, Seq(-1.0f, 0.2f))).toDF("vec_id", "embedding")
      val lsh = Similarity.lshTopK(vecs, vecs, k = 1, nBits = 4, bands = 2,
        dim = 2)
      assert(lsh.queryExecution.executedPlan.toString
        .contains("graft_sign_bits"))
      assert(lsh.filter(col("query_id") === 1L).select("neighbor_id")
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
    } finally SparkSession.setActiveSession(spark)
  }
}
