package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native Catalyst functions by
  * name for SQL callers — attach with `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` or `spark.sql.extensions=
  * graft.functions.GraftExtensions` — plus its optimizer rules and
  * planner strategy. The DataFrame helpers ([[graft.text.TextOps]],
  * [[graft.vector.Similarity]], …) build the same expressions
  * directly and need no registration. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.DotName),
      new ExpressionInfo(classOf[DotProduct].getName, GraftExtensions.DotName),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"${GraftExtensions.DotName} takes exactly 2 arguments, got ${args.length}")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.SignBitsName),
      new ExpressionInfo(classOf[SignBits].getName, GraftExtensions.SignBitsName),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"${GraftExtensions.SignBitsName} takes exactly 2 arguments, got ${args.length}")
        SignBits(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.CellDistsName),
      new ExpressionInfo(classOf[CellDists].getName, GraftExtensions.CellDistsName),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"${GraftExtensions.CellDistsName} takes exactly 2 arguments, got ${args.length}")
        CellDists(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.ShingleSeqName),
      new ExpressionInfo(classOf[ShingleSeq].getName, GraftExtensions.ShingleSeqName),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"${GraftExtensions.ShingleSeqName} takes exactly 2 arguments, got ${args.length}")
        ShingleSeq(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.Hash56Name),
      new ExpressionInfo(classOf[Hash56].getName, GraftExtensions.Hash56Name),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"${GraftExtensions.Hash56Name} takes exactly 1 argument, got ${args.length}")
        Hash56(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.TokensName),
      new ExpressionInfo(classOf[Tokens].getName, GraftExtensions.TokensName),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"${GraftExtensions.TokensName} takes exactly 1 argument, got ${args.length}")
        Tokens(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.HtmlTextName),
      new ExpressionInfo(classOf[HtmlText].getName, GraftExtensions.HtmlTextName),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"${GraftExtensions.HtmlTextName} takes exactly 1 argument, got ${args.length}")
        HtmlText(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.UrlCanonName),
      new ExpressionInfo(classOf[UrlCanon].getName, GraftExtensions.UrlCanonName),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"${GraftExtensions.UrlCanonName} takes exactly 1 argument, got ${args.length}")
        UrlCanon(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.TextNormName),
      new ExpressionInfo(classOf[TextNorm].getName, GraftExtensions.TextNormName),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"${GraftExtensions.TextNormName} takes exactly 1 argument, got ${args.length}")
        TextNorm(args.head)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.GearChunksName),
      new ExpressionInfo(classOf[GearChunks].getName, GraftExtensions.GearChunksName),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"${GraftExtensions.GearChunksName} takes exactly 2 arguments, got ${args.length}")
        GearChunks(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftExtensions.LevBoundedName),
      new ExpressionInfo(classOf[LevBounded].getName,
        GraftExtensions.LevBoundedName),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"${GraftExtensions.LevBoundedName} takes exactly 3 arguments, " +
            s"got ${args.length}")
        LevBounded(args.head, args(1), args(2))
      }))
    // user queries written with the idiomatic zip_with/aggregate dot
    // composition get the fused codegen kernel automatically
    ext.injectOptimizerRule(_ => RewriteHofDot)
    // whole-operator extension (ladder rung c): partial top-k per key
    // plans as bounded heaps around a candidates-only exchange
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // ...and the idiomatic window spelling (row_number <= k with the
    // rank dropped) is rewritten onto it with no API change
    ext.injectOptimizerRule(_ => graft.plans.RewriteTopKWindow)
  }
}

object GraftExtensions {
  val DotName = "graft_dot"
  val SignBitsName = "graft_sign_bits"
  val CellDistsName = "graft_l2sq_cells"
  val ShingleSeqName = "graft_shingle_seq"
  val Hash56Name = "graft_hash56"
  val TokensName = "graft_tokens"
  val HtmlTextName = "graft_html_text"
  val UrlCanonName = "graft_url_canon"
  val TextNormName = "graft_textnorm"
  val GearChunksName = "graft_gear_chunks"
  val LevBoundedName = "graft_lev_bounded"
}
