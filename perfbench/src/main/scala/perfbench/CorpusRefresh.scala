package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.Compact
import graft.sources.Warc
import graft.text.{Bloom, CorpusOps, Dedup, Rewrite, TextOps, TextStats}

/** Seeded refresh batches of synthetic HTML documents against a growing
  * held corpus. A round starts from the initial held corpus and an empty
  * managed table and runs `BatchesPerRound` batches; the last batch of a
  * round also compacts the table. Each batch:
  * WARC write -> WARC read -> HTML to text + normalize -> Bloom history
  * gate -> Gopher rules -> exact dedup -> MinHash near-dup -> span dedup
  * -> merge with tombstones -> epoch shard -> managed append. */
object CorpusRefresh extends Workload {
  val name = "corpus_refresh"
  val Spans: Seq[String] = Seq("sources.warc_write", "sources.warc_read",
    "text.extract_normalize", "text.history_gate", "text.quality",
    "text.exact_dedup", "text.near_dedup", "text.span_dedup", "text.merge",
    "text.shard", "operators.append", "operators.compact")
  val Suffixes: Seq[String] = Seq("ms", "jobs", "shuffle_mb")

  val BatchesPerRound = 1
  val Rules: Seq[String] = Seq("r_wordcount", "r_wordlen", "r_symbol", "r_alpha",
    "r_stop", "r_rep")
  /** Recall floor on planted near-duplicate pairs (Jaccard ~0.95) per
    * batch. Not 1.0: `Dedup.minHashNearDups` misses such pairs now and
    * then (see the README); a missed copy is expected to be inserted. */
  val NearDupRecallFloor = 0.9

  final case class Size(held: Int, fresh: Int, mirrors: Int, near: Int,
      perRule: Int, changed: Int, unchanged: Int, tombstones: Int)
  def size(smoke: Boolean): Size =
    if (smoke) Size(held = 300, fresh = 60, mirrors = 6, near = 6, perRule = 3,
      changed = 12, unchanged = 12, tombstones = 5)
    else Size(held = 1500, fresh = 300, mirrors = 30, near = 30, perRule = 6,
      changed = 60, unchanged = 60, tombstones = 20)

  /** What a document of a batch is planted to become. */
  sealed trait Fate
  case object Inserted extends Fate
  case object Updated extends Fate
  case object Recrawl extends Fate
  case object Mirror extends Fate
  case object NearDup extends Fate
  final case class Gopher(rule: String) extends Fate
  /** Observed only: a document that reached no verdict it was planted for. */
  final case class Lost(verdict: Option[String]) extends Fate

  final case class Doc(id: Long, text: String, fate: Fate)
  final case class Batch(docs: Seq[Doc], tombstones: Seq[Long],
      nearPairs: Seq[(Long, Long)])

  /** Synthetic English-like text: vocabulary words and stopwords. */
  final class Gen(seed: Long) {
    val rng = new java.util.Random(seed * 131L + 7L)
    private val syll = Seq("ka", "lo", "mi", "ter", "san", "dor", "ve", "ul",
      "pra", "nek", "sio", "bar", "tum", "el", "ros", "gan")
    val vocab: IndexedSeq[String] = (0 until 500).map { _ =>
      (1 to 2 + rng.nextInt(2)).map(_ => syll(rng.nextInt(syll.size))).mkString
    }.distinct
    val stop: IndexedSeq[String] = TextStats.EnglishStopwords.toIndexedSeq
    def word(): String =
      if (rng.nextDouble() < 0.3) stop(rng.nextInt(stop.size)) else vocab(rng.nextInt(vocab.size))
    def words(n: Int): Seq[String] = Seq.fill(n)(word())
    /** A clean document: passes every Gopher rule. */
    def clean(): String = ("the" +: "and" +: words(80 + rng.nextInt(40))).mkString(" ")
    def longWord(): String = (1 to 8).map(_ => syll(rng.nextInt(syll.size))).mkString
    def violating(rule: String): String = rule match {
      case "r_wordcount" => ("the" +: "and" +: words(25)).mkString(" ")
      case "r_wordlen" => ("the" +: "and" +: Seq.fill(90)(longWord())).mkString(" ")
      case "r_symbol" =>
        ("the" +: "and" +: (words(85) ++ Seq.fill(15)("#" + vocab(rng.nextInt(vocab.size)))))
          .mkString(" ")
      case "r_alpha" =>
        ("the" +: "and" +: (words(65) ++ Seq.fill(35)(rng.nextInt(1000).toString)))
          .mkString(" ")
      case "r_stop" => Seq.fill(100)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      case "r_rep" => ("the" +: "and" +: (words(40) ++ Seq.fill(30)("click here").flatMap(_.split(" "))))
          .mkString(" ")
    }
    /** The text with one word replaced (Jaccard of 3-shingles ~0.95). */
    def nearCopy(text: String): String = {
      val ws = text.split(" ")
      val i = 2 + rng.nextInt(ws.length - 2)
      var w = vocab(rng.nextInt(vocab.size))
      while (w == ws(i)) w = vocab(rng.nextInt(vocab.size))
      ws.updated(i, w).mkString(" ")
    }
  }

  val Boilerplate = "subscribe to our newsletter for the latest stories and updates"

  /** The initial held corpus and every batch of one round. Held ids are
    * 0 until held; batch b draws its changed, re-crawled and tombstoned
    * ids from its own slice of the held ids, and its new ids from
    * 1e6 * (b + 1) upward. */
  def plan(seed: Long, s: Size): (Seq[(Long, String)], Seq[Batch]) = {
    val g = new Gen(seed)
    val held = (0 until s.held).map(i => i.toLong -> g.clean())
    val heldText = held.toMap
    val perBatch = s.changed + s.unchanged + s.tombstones
    require(perBatch * BatchesPerRound <= s.held, "held corpus too small")
    val batches = (0 until BatchesPerRound).map { b =>
      val slice = (b * perBatch until (b + 1) * perBatch).map(_.toLong)
      val (changedIds, rest) = slice.splitAt(s.changed)
      val (recrawlIds, tombs) = rest.splitAt(s.unchanged)
      var next = 1000000L * (b + 1)
      def id(): Long = { next += 1; next }
      val fresh = (0 until s.fresh).map { i =>
        val t = g.clean()
        Doc(id(), if (i % 10 == 3) s"$t $Boilerplate" else t, Inserted)
      }
      val mirrors = fresh.take(s.mirrors).map(d => Doc(id(), d.text.toUpperCase, Mirror))
      val nearSrc = fresh.slice(s.mirrors, s.mirrors + s.near)
      val near = nearSrc.map(d => Doc(id(), g.nearCopy(d.text), NearDup))
      val gopher = for (r <- Rules; _ <- 0 until s.perRule) yield Doc(id(), g.violating(r), Gopher(r))
      val changed = changedIds.map(i => Doc(i, g.clean(), Updated))
      val recrawl = recrawlIds.map { i =>
        val t = heldText(i)
        Doc(i, t.take(16).toUpperCase + t.drop(16), Recrawl)
      }
      val docs = fresh ++ mirrors ++ near ++ gopher ++ changed ++ recrawl
      Batch(new scala.util.Random(g.rng.nextLong()).shuffle(docs), tombs,
        nearSrc.map(_.id).zip(near.map(_.id)))
    }
    (held, batches)
  }

  def html(text: String): String =
    s"<html><head><title>doc</title><script>var x = '<p>no</p>';</script></head>" +
      s"<body><p>$text</p></body></html>"

  def records(spark: SparkSession, b: Batch, ts: Long): DataFrame = {
    val schema = StructType(Seq(StructField("warc_type", StringType),
      StructField("record_id", StringType), StructField("target_uri", StringType),
      StructField("warc_date", TimestampType), StructField("content_type", StringType),
      StructField("payload", BinaryType)))
    spark.createDataFrame(spark.sparkContext.parallelize(b.docs.map(d =>
      Row("response", s"<urn:perfbench:${d.id}>", s"http://crawl.example.com/doc/${d.id}",
        new Timestamp(ts * 1000L), "text/html", html(d.text).getBytes("UTF-8"))), 4), schema)
  }

  /** Stage outputs kept for the checks. */
  final case class Stages(gated: DataFrame, qual: DataFrame, exact: DataFrame,
      pairs: DataFrame, span: DataFrame, merged: DataFrame)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = size(ctx.smoke)
    val (heldDocs, batches) = plan(ctx.seed, s)
    val heldRaw = spark.createDataFrame(spark.sparkContext.parallelize(
      heldDocs.map { case (i, t) => Row(i, html(t)) }, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("html", StringType))))
    // set-up: extract and normalize the held corpus as a refresh would
    var initial: DataFrame = null
    val setup = (1 to 3).map { _ =>
      if (initial != null) initial.unpersist(true)
      Loop.time {
        initial = heldRaw.select(col("doc_id"), lit(0L).as("ts"),
            TextOps.normalizeText(TextOps.htmlToText(col("html"))).as("text"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        initial.count()
      }._2
    }
    val table = s"${ctx.workDir}/table"
    val warcDir = s"${ctx.workDir}/warc"
    // stage outputs are eager local checkpoints, as the program's own
    // corpus pipeline does: each becomes a plan leaf, so a batch's plan
    // does not embed the previous batch's whole lineage
    val scratch = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      val p = df.localCheckpoint(eager = true); scratch += p; p
    }
    /** Materializes a stage output only on traced runs, so that its
      * span holds the stage's own work. */
    def boundary(df: DataFrame): DataFrame = if (ctx.traced) keep(df) else df
    def free(df: DataFrame): Unit = df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
    }
    def release(): Unit = { scratch.foreach(free); scratch.clear() }

    def runBatch(b: Batch, bi: Int, held: DataFrame): Stages = {
      val ts = bi + 1L
      val dir = s"$warcDir/b$bi"
      ctx.rmrf(dir)
      ctx.span("sources.warc_write")(Warc.write(records(spark, b, ts), dir, gzip = true))
      val read = ctx.span("sources.warc_read")(boundary(Warc.read(spark, dir)
        .filter(col("warc_type") === "response")
        .select(regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"), col("payload"))))
      val ex = ctx.span("text.extract_normalize")(boundary(read.select(col("doc_id"),
        TextOps.normalizeText(TextOps.htmlToText(col("payload").cast("string")))
          .as("ntext"))))
      val gated = ctx.span("text.history_gate") {
        val (m, k) = Bloom.sizeFor(math.max(1L, s.held.toLong + 3L * s.fresh), 0.01)
        val filter = Bloom.buildFilter(held.select(col("text")), "text", m, k)
        val probed = Bloom.probe(ex, "ntext", filter, m, k)
        val seen = probed.filter(col("maybe_seen")).select("doc_id", "ntext")
          .join(held.select(col("text").as("ntext")).distinct(), Seq("ntext"), "left_semi")
          .select(col("doc_id"), lit(true).as("seen"))
        keep(probed.join(seen, Seq("doc_id"), "left")
          .withColumn("gate_kept", col("seen").isNull).drop("seen"))
      }
      val gsurv = gated.filter(col("gate_kept")).select("doc_id", "ntext")
      val qual = ctx.span("text.quality")(keep(
        TextStats.gopherRulesStateless(gsurv, textCol = "ntext")))
      val qsurv = gsurv.join(qual.filter(col("quality_pass") === 1).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val exact = ctx.span("text.exact_dedup")(boundary(qsurv
        .join(Dedup.exactDuplicates(qsurv, textCol = "ntext")
          .select("keep_id"), col("doc_id") === col("keep_id"), "left_semi")))
      val pairs = ctx.span("text.near_dedup")(keep(
        Dedup.minHashNearDups(exact, textCol = "ntext")))
      val nsurv = exact.join(pairs.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val span = ctx.span("text.span_dedup")(keep(
        Rewrite.spanDedup(nsurv.withColumnRenamed("ntext", "text"), k = 5)))
      val merged = ctx.span("text.merge") {
        val upd = span.select(col("doc_id"), lit(ts).as("ts"), col("text"),
          lit(false).as("deleted"))
        val dels = spark.createDataFrame(spark.sparkContext.parallelize(
            b.tombstones.map(i => Row(i)), 1),
            StructType(Seq(StructField("doc_id", LongType))))
          .select(col("doc_id"), lit(ts).as("ts"), lit("").as("text"),
            lit(true).as("deleted"))
        keep(CorpusOps.mergeCorpus(held, upd.unionByName(dels)))
      }
      val shards = ctx.span("text.shard")(boundary(
        CorpusOps.epochShard(merged.select("doc_id"), epoch = bi, nShards = 8)))
      ctx.span("operators.append")(Compact.appendManaged(spark, table,
        merged.filter(col("verdict") =!= "kept").join(shards, Seq("doc_id"))
          .select("doc_id", "ts", "text", "shard", "pos")))
      Stages(gated, qual, exact, pairs, span, merged)
    }

    val mbs = Seq.newBuilder[Double]
    val ampl = Seq.newBuilder[Double]
    var expectRows = 0L
    var batchNo = 0
    var nearMissed = 0
    def round(): Seq[Took] = {
      ctx.rmrf(table)
      expectRows = 0L
      var held = initial
      val times = batches.zipWithIndex.map { case (b, bi) =>
        val (st, batchTook) = Loop.time(runBatch(b, bi, held))
        var took = batchTook
        val last = bi == batches.size - 1
        // read outside the timed region: the appended rows, which
        // compaction must keep
        val before = snapshot(spark, table)
        if (last) took += Loop.time(ctx.span("operators.compact")(
          Compact.binPackInPlace(spark, table, targetBytes = 8L << 20)))._2
        mbs += ctx.cachedMb
        val found = st.pairs.select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val missed = b.nearPairs.filterNot(found).map(_._2).toSet
        nearMissed += missed.size
        expectRows += b.docs.count(d => d.fate == Inserted || d.fate == Updated) + missed.size
        ctx.verify(s"corpus_refresh batch $batchNo")(check(ctx, b, st, spark, table,
          expectRows, before, compacted = last, missed))
        if (last) ampl += writeAmp(spark, table)
        batchNo += 1
        // the merged corpus becomes the next batch's held corpus
        scratch -= st.merged
        release()
        if (held ne initial) free(held)
        held = st.merged
        took
      }
      if (held ne initial) free(held)
      times
    }
    // no warm-up round: the first batch of a run is cold, as a refresh
    // job that starts a fresh process pays
    val loop = Loop.closed(ctx.seconds)(() => round())
    Outcome(setup, loop, mbs.result(),
      Map("operators.write_amp" -> Stats.median(ampl.result())),
      Map("held" -> s.held, "batch_docs" -> batches.head.docs.size,
        "near_dup_pairs_missed" -> nearMissed,
        "batches_per_round" -> BatchesPerRound))
  }

  /** (doc_id, md5 of text) of every live row of the managed table. */
  def snapshot(spark: SparkSession, table: String): Array[(Long, String)] =
    Compact.read(spark, table).select(col("doc_id"), md5(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(identity)

  /** Parquet bytes written into the table (live and tombstoned files)
    * over the bytes of the live files. */
  def writeAmp(spark: SparkSession, table: String): Double = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(table)
    val fs = dir.getFileSystem(conf)
    val it = fs.listFiles(dir, true)
    var written = 0L
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(dir.toUri.getPath)
      if (rel.endsWith(".parquet") && !rel.contains("/.")) written += f.getLen
    }
    val live = Compact.read(spark, table).inputFiles
      .map(p => fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    written.toDouble / live
  }

  def check(ctx: Ctx, b: Batch, st: Stages, spark: SparkSession, table: String,
      expectRows: Long, before: Array[(Long, String)], compacted: Boolean,
      nearMissed: Set[Long]): Unit = {
    val gateDropped = st.gated.filter(!col("gate_kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val qual = st.qual.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    var exactKept = st.exact.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = st.pairs.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val verdict = st.merged.select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    if (ctx.corrupting("dedup_verdict"))
      exactKept += b.docs.find(_.fate == Mirror).get.id
    val nearDropped = pairs.map(_._2)
    def observed(d: Doc): Fate =
      if (gateDropped(d.id)) Recrawl
      else qual.get(d.id) match {
        case Some(r) if r.getAs[Long]("quality_pass") == 0L =>
          Gopher(Rules.filter(x => r.getAs[Long](x) == 0L).mkString("+"))
        case _ if !exactKept(d.id) => Mirror
        case _ if nearDropped(d.id) => NearDup
        case _ => verdict.get(d.id) match {
          case Some("inserted") => Inserted
          case Some("updated") => Updated
          case other => Lost(other)
        }
      }
    // a near copy the near-dup stage missed (bounded by the recall
    // floor below) is inserted like any new document
    def expected(d: Doc): Fate = if (nearMissed(d.id)) Inserted else d.fate
    b.docs.foreach { d =>
      val o = observed(d)
      Check(o == expected(d), s"document ${d.id} planted ${d.fate} but ended $o")
    }
    val counts = b.docs.groupBy(expected).map { case (f, ds) => f -> ds.size }
    Check(verdict.values.count(_ == "inserted") == counts.getOrElse(Inserted, 0),
      "inserted count")
    Check(verdict.values.count(_ == "updated") == counts.getOrElse(Updated, 0),
      "updated count")
    Check(b.tombstones.forall(i => !verdict.contains(i)), "tombstoned ids removed")
    val found = b.nearPairs.count(pairs)
    Check(found >= NearDupRecallFloor * b.nearPairs.size,
      s"near-dup recall $found / ${b.nearPairs.size}")
    Check(before.length == expectRows,
      s"managed table holds ${before.length} rows, expected $expectRows")
    if (compacted)
      Check(snapshot(spark, table).sameElements(before),
        "compaction changed the (doc_id, text hash) multiset")
  }
}
