package graft.data

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.text.{Bloom, Cdc, Classifier, CorpusOps, Decontaminate, Dedup, HeavyHitters, LmPerplexity, Rewrite, Search, TextOps, TextStats}
import graft.vector.{Embeddings, Ivf, Pca, Similarity}

/** Driver-contract queries for the LLM-data-pipeline layer (dedup,
  * text analysis, embedding similarity) over `documents.parquet` /
  * `embeddings.parquet`, with generated DuckDB oracle SQL mirroring
  * each Spark plan 1:1 (same hash family, same rounding, same
  * tie-breaks) so the driver's value-hash compare is exact.
  */
object DocQueries {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** events with `ts` normalized to TimestampType. The column has
    * shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
    * testdata generations: nanos arrives as long
    * (spark.sql.legacy.parquet.nanosAsLong) and is floored to micros —
    * exactly DuckDB's nanos→micros read-time conversion — while micros
    * needs no conversion in either engine. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw
    }
  }

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** The regex-needle scrub set shared by q_blocklist_rx / q_rx_spans /
    * q_redact_rx (and their oracles verbatim — [[rxPatsValues]]):
    * (regex, literal anchor, max codepoints from match start to anchor
    * start). Engine-portable subset only (classes, greedy/counted
    * quantifiers — Java and DuckDB's RE2 agree); every match contains
    * its anchor within the declared gap (the
    * [[graft.functions.RxNeedle]] contract, brute-parity-pinned in
    * RxScanSpec). */
  private val RxNeedleSet: Seq[(String, String, Int)] = Seq(
    ("ta[a-z]+", "ta", 0),
    // the quantifier bound makes the declared 24-codepoint anchor gap
    // a THEOREM of the pattern (any match's trailing "ble" starts at
    // offset <= 24), not a property of the current fixture corpus — an
    // unbounded [a-z]+ would silently drop match starts on any future
    // corpus holding a >27-char lowercase run ending in "ble" with no
    // earlier "ble" inside it (advice r13)
    ("[a-z]{1,24}ble", "ble", 24),
    ("b[a-z]{2}ch", "ch", 3),
    ("[0-9]{3}-[0-9]{2}", "-", 3))

  /** The scrub-STACK regex trio (round 14 — chosen for the
    * composition seams, not reach): "tX[a-z]+" matches ONLY text the
    * canonicalization minted (no raw document contains "tX"), the
    * b..ch shape survives both the dictionary and the literal mask,
    * and the digit shape is absent everywhere (the all-zero column
    * pin). Notably "tX" also sits in the literal needle set, so the
    * rx GATE sees it on the canonical text but the rx REDACTION never
    * does — the literal mask eats it first, pinning stage order. */
  private val ScrubRxNeedles: Seq[(String, String, Int)] = Seq(
    ("tX[a-z]+", "tX", 0),
    ("b[a-z]{2}ch", "ch", 3),
    ("[0-9]{3}-[0-9]{2}", "-", 3))

  private val scrubRxValues: String =
    ScrubRxNeedles.zipWithIndex
      .map { case ((re, _, _), i) => s"($i, '$re')" }.mkString(", ")

  /** The same set as DuckDB VALUES rows. */
  private val rxPatsValues: String =
    RxNeedleSet.zipWithIndex
      .map { case ((re, _, _), i) => s"($i, '$re')" }.mkString(", ")

  /** Per-process memo of the tokenize→shingle→distinct prefix and of
    * the exact-Jaccard pair graph — the same "cache the common prefix,
    * fan out" lifecycle Pipelines applies to factorData: the Jaccard,
    * clustering, and MinHash queries all start from the identical
    * CPU-heavy shingle-set table, and the clustering query's input IS
    * the pair query's output. Results are deterministic, so memoized
    * and fresh plans hash identically. */
  private val shingleMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int), DataFrame]
  private[graft] def docShingleSets(s: SparkSession, dir: String, n: Int): DataFrame =
    shingleMemo.getOrElseUpdate((dir, n), {
      val sets = Dedup.shingleSets(documents(s, dir), n = n)
      sets.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sets
    })

  /** Per-process memo of the FULL-corpus suffix-array-with-LCP
    * artifact: the SA is the expensive build (log-rounds of joins +
    * prefix sums), and the whole SA family — q_suffix_rank,
    * q_suffix_lcp, q_repeat_marks, q_span_cut_sa — is exactly the
    * build-once/fan-out lifecycle: ranks, LCP stats, repeat mining and
    * the span cut all read ONE persisted materialization (the
    * Bm25Index pattern). */
  private val fullSaMemo =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  /** SA+LCP over the FULL corpus — ONE persisted artifact fanned out
    * to q_suffix_rank / q_suffix_lcp / q_repeat_marks / q_span_cut_sa
    * (round 15: the family runs on the whole documents table, whose
    * organic repeat surface replaced the old 35-doc planted-mirror
    * slice). Built in [[warm]] so the cost lands in the reported
    * warmup entry. */
  private[graft] def fullSa(s: SparkSession, dir: String): DataFrame =
    fullSaMemo.getOrElseUpdate(dir, {
      val sa = graft.operators.SuffixRank.suffixArrayWithLcp(
        documents(s, dir).select("doc_id", "text"))
      sa.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sa
    })

  private val pairsMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Double, Int), DataFrame]
  private[graft] def docJaccardPairs(
      s: SparkSession, dir: String, n: Int,
      minJaccard: Double, maxDf: Int): DataFrame =
    pairsMemo.getOrElseUpdate((dir, n, minJaccard, maxDf), {
      val p = Dedup.jaccardPairsFromSets(
        docShingleSets(s, dir, n), minJaccard, maxDf)
      p.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p
    })

  /** Per-process memo of the trained vector models — the IVF coarse
    * quantizer is shared by q_ann_ivf and q_ivfadc, the PQ codebooks
    * by q_pq_adc and q_ivfadc (identical training calls; the k-means
    * is deterministic so memoized and fresh models coincide). Same
    * "train once, fan out" lifecycle as the shingle/pair caches. */
  private val coarseMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]
  private[graft] def coarseCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    coarseMemo.getOrElseUpdate(dir,
      Ivf.trainCentroids(embeddings(s, dir), nCells = 16, iters = 5))

  private val bookMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]
  private[graft] def pqBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    bookMemo.getOrElseUpdate(dir,
      graft.vector.Pq.trainCodebooks(embeddings(s, dir), dim = 64, m = 8,
        k = 16, iters = 3))

  // IVFADC codebooks quantize the coarse RESIDUAL (Jégou 2011), so they
  // train against the shared coarse quantizer, not the raw vectors
  private val residBookMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]
  private def pqResidBooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] =
    residBookMemo.getOrElseUpdate(dir,
      graft.vector.Pq.trainResidualCodebooks(embeddings(s, dir),
        coarseCentroids(s, dir), dim = 64, m = 8, k = 16, iters = 3))

  /** Per-process memo of the BM25 inverted index — like the shingle
    * sets, the index is the build-once/query-many artifact of full-text
    * search; the postings/df/stats pieces persist so every query batch
    * reuses them. */
  private val bm25Memo =
    scala.collection.concurrent.TrieMap.empty[String, Search.Bm25Index]
  private[graft] def bm25Index(s: SparkSession, dir: String): Search.Bm25Index =
    bm25Memo.getOrElseUpdate(dir, {
      val idx = Search.buildIndex(documents(s, dir))
      idx.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx.stats.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      idx
    })

  /** Materialize the shared doc-side caches (shingle sets + Jaccard
    * pair graph + BM25 index) and train the shared vector models — the
    * bench warmup calls this so their one-off build cost lands in the
    * reported warmup entry instead of on whichever query runs first
    * alphabetically (same treatment as the shared factor_data build). */
  def warm(spark: SparkSession, dir: String): Unit = {
    docShingleSets(spark, dir, n = 3).count()
    docJaccardPairs(spark, dir, n = 3, minJaccard = 0.3, maxDf = 100).count()
    val idx = bm25Index(spark, dir)
    idx.postings.count(); idx.df.count(); idx.stats.count()
    coarseCentroids(spark, dir)
    pqBooks(spark, dir)
    // the shared SA+LCP artifact (the whole SA family fans out from
    // it) — built here so its cost lands in the reported warmup
    // entry, not in whichever query runs first
    fullSa(spark, dir).count()
  }

  /** Corpus with planted exact duplicates (each doc twice, second copy
    * id-shifted) — the documents table itself has no exact dups. */
  /** Shared frames for the asymmetric overlap pair (q_overlap_win /
    * q_overlap_win_bcast): 600k lineitem transit intervals on the left,
    * 3 deterministic per-supplier audit windows on the right — the
    * |right| << |left| shape the broadcast overlap join exists for.
    * Window starts spread over the shipdate epoch-day range so the
    * join is selective but non-trivial. */
  def overlapWinFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
    val a = li.select(col("l_suppkey"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
      lo.as("lo_a"),
      (lo + lit(60L) +
        pmod(col("l_orderkey") * 11 + col("l_linenumber") * 3, lit(180L)))
        .as("hi_a"))
    val wlo = lit(8036L) +
      pmod(col("l_suppkey") * 37 + col("wid") * 797, lit(2400L))
    val w = s.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey").as("l_suppkey"))
      .withColumn("wid", explode(sequence(lit(0L), lit(2L))))
      .select(col("l_suppkey"), col("wid"), wlo.as("lo_b"),
        (wlo + lit(30L) + pmod(col("l_suppkey"), lit(7L))).as("hi_b"))
    (a, w)
  }

  private def dupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select("doc_id", "text")
    d.unionByName(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** Embedding corpus with planted near-duplicates: each vector twice,
    * the copy id-shifted and scaled by 1.25 (exact in binary float, so
    * the copy's cosine with its original is 1 up to rounding and its
    * LSH sign bits coincide) — natural pairwise cosines top out ~0.46,
    * so the near-dup set is exactly the planted pairs. */
  private def dupVecCorpus(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select("vec_id", "embedding")
    e.unionByName(e.select((col("vec_id") + 100000).as("vec_id"),
      transform(col("embedding"), x => x * lit(1.25f)).as("embedding")))
  }

  /** Crawler-page HTML wrapper used by the corpus-pipeline composite —
    * the q_wet_extract template with an ID-FREE header, so two crawls
    * of the same content extract to the identical WET text (exact-dup
    * and Bloom-gate detection must key on content, not on the id
    * embedded in a heading). */
  private def wetWrap(text: Column): Column = {
    val esc = regexp_replace(regexp_replace(regexp_replace(
      text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><!-- crawler page --><head><title>skip</title>" +
        "<script>var x = '<p>not text</p>';</script></head>" +
        "<body><h1>Crawl</h1><p>"), esc,
      lit("</p><div>footer &copy; corp</div></body></html>"))
  }

  /** Pre-trained quality-model weights (the q_quality_clf recipe),
    * memoized per data dir: a production gate scores each batch with
    * an existing model rather than retraining per query, and Verify/
    * Bench share one training run between q_quality_clf and the
    * pipeline composite. */
  private val clfWeightsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Long]]
  private def clfWeights(s: SparkSession, dir: String): Array[Long] =
    clfWeightsMemo.getOrElseUpdate(dir,
      Classifier.fit(documents(s, dir)
          .withColumn("y", (col("lang") === "en").cast("long")),
        "y", dim = 64, iters = 3, lr = 0.5))

  /** Normalized-classifier weights (the q_quality_clf_norm recipe),
    * memoized per data dir — shared by the stack composite, the
    * pre-trained-model deployment pattern. */
  private val clfNormWeightsMemo =
    scala.collection.concurrent.TrieMap.empty[String, Array[Long]]
  private def clfNormWeights(s: SparkSession, dir: String): Array[Long] =
    clfNormWeightsMemo.getOrElseUpdate(dir,
      Classifier.fitNorm(documents(s, dir).withColumn("y", clfNormLabel),
        "y", dim = 64, iters = 15, lr = 6.0))

  /** Stopword-density quality label for the normalized classifier:
    * 1000·|{the,a} tokens| >= 61·ntok (the corpus-median cut) — an
    * integer-exact compare, so both engines label identically. */
  private def clfNormLabel: Column = {
    val toks = TextOps.tokens(col("text"))
    (size(filter(toks, t => t === "the" || t === "a")).cast("long") * lit(1000L)
      >= size(toks).cast("long") * lit(61L)).cast("long")
  }

  // ---- Spark side ----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(dupCorpus(s, dir)).orderBy("content_hash")),
    "q_hll_distinct" -> ((s, dir) => {
      // bit-reproducible HyperLogLog (p=10, 1024 registers) vs the
      // exact count: distinct (partkey, suppkey) pairs per returnflag.
      // The register build is integer-exact and the two float steps
      // snap to 1e-6, so the DuckDB oracle replays the ESTIMATE — the
      // sketch itself, not just a tolerance band — to the last bit.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val key = concat(lit("hll:"), col("l_partkey").cast("string"),
        lit("|"), col("l_suppkey").cast("string"))
      val est = graft.stats.Hll.distinctEstimate(
        li, key, Seq("l_returnflag"), p = 10)
      val exact = li.groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey"), col("l_suppkey"))
          .as("exact_distinct"))
      est.join(exact, Seq("l_returnflag"))
        .select("l_returnflag", "hll_distinct", "exact_distinct")
        .orderBy("l_returnflag")
    }),
    "q_kmv_distinct" -> ((s, dir) => {
      // KMV/theta sketch (functions/KmvAgg.scala, stats/Kmv.scala):
      // k=128 minimum hash values of each source's distinct 2-gram
      // shingle set. Deterministic by construction (the retained set
      // is a pure function of the value SET), so the oracle replays
      // the sketch as row_number() <= k and the estimate to the bit.
      // n_exact rides along as the honesty column.
      val sh = documents(s, dir).select(col("source"),
        explode(TextOps.shingleSeq(TextOps.tokens(col("text")), 2)).as("g"))
      val sk = graft.stats.Kmv.sketch(sh, Seq("source"), col("g"), k = 128)
      val exact = sh.select(col("source"),
          graft.stats.Kmv.hashCol(col("g")).as("h"))
        .distinct().groupBy("source").agg(count(lit(1)).as("n_exact"))
      sk.join(exact, Seq("source"))
        .select(col("source"), col("n_exact"),
          size(col("kmv")).cast("long").as("n_retained"),
          graft.stats.Kmv.thetaRaw(col("kmv"), 128).as("theta_raw"),
          round(graft.stats.Kmv.distinctEstimate(col("kmv"), 128), 9).as("est"))
        .orderBy("source")
    }),
    "q_kmv_setops" -> ((s, dir) => {
      // theta-sketch set algebra over PERSISTED-shape sketches: all
      // 190 source-pair union/intersection estimates computed from the
      // 20 retained arrays alone (the base data is touched only for
      // the exact-intersection honesty column). The pair join is a
      // bounded 20x20 broadcast nested loop by design.
      val K = 128
      val kmv = graft.stats.Kmv
      val sh = documents(s, dir).select(col("source"),
        explode(TextOps.shingleSeq(TextOps.tokens(col("text")), 2)).as("g"))
      val dh = sh.select(col("source"), kmv.hashCol(col("g")).as("h")).distinct()
      val sk = kmv.sketch(sh, Seq("source"), col("g"), K)
      val pairs = sk.select(col("source").as("s1"), col("kmv").as("ka"))
        .join(broadcast(sk.select(col("source").as("s2"), col("kmv").as("kb"))),
          col("s1") < col("s2"))
      val ex = dh.as("x").join(dh.as("y"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .select(col("x.source").as("s1"), col("y.source").as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_exact_intersect"))
      pairs.join(ex, Seq("s1", "s2"), "left")
        .select(col("s1"), col("s2"),
          coalesce(col("n_exact_intersect"), lit(0L)).as("n_exact_intersect"),
          round(kmv.intersectEstimate(col("ka"), col("kb"), K), 9)
            .as("est_intersect"),
          round(kmv.distinctEstimate(kmv.unionSketch(col("ka"), col("kb"), K), K), 9)
            .as("est_union"))
        .orderBy("s1", "s2")
    }),
    "q_kmv_hip" -> ((s, dir) => {
      // inverse-probability POOLED estimates over the same persisted
      // retained arrays as q_kmv_setops (stats/Kmv.scala
      // hipUnionEstimate/hipDifferenceEstimate): up to 2k-1
      // observations below theta_min instead of the merged sketch's k
      // — the read-time variance reduction; the artifact is untouched
      val K = 128
      val kmv = graft.stats.Kmv
      val sh = documents(s, dir).select(col("source"),
        explode(TextOps.shingleSeq(TextOps.tokens(col("text")), 2)).as("g"))
      val sk = kmv.sketch(sh, Seq("source"), col("g"), K)
      val pairs = sk.select(col("source").as("s1"), col("kmv").as("ka"))
        .join(broadcast(sk.select(col("source").as("s2"), col("kmv").as("kb"))),
          col("s1") < col("s2"))
      val tmin = least(kmv.thetaRaw(col("ka"), K), kmv.thetaRaw(col("kb"), K))
      pairs.select(col("s1"), col("s2"),
          size(filter(array_union(col("ka"), col("kb")), v => v < tmin))
            .cast("long").as("n_pooled"),
          round(kmv.hipUnionEstimate(col("ka"), col("kb"), K), 9)
            .as("est_union_hip"),
          round(kmv.distinctEstimate(kmv.unionSketch(col("ka"), col("kb"), K), K), 9)
            .as("est_union_merged"),
          round(kmv.hipDifferenceEstimate(col("ka"), col("kb"), K), 9)
            .as("est_diff_ab"))
        .orderBy("s1", "s2")
    }),
    "q_profile" -> ((s, dir) =>
      // ANALYZE-style table profile (round 9): per column the row/null
      // counts, bit-reproducible HLL distinct estimate over a
      // type-canonical key, and min/max through type-stable channels —
      // two bounded passes (one wide aggregate + one register build),
      // nothing scales with row count. The oracle replays every number
      // including the sketch estimates bit-for-bit.
      graft.stats.Profile.profileTable(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_quantity", "l_extendedprice", "l_returnflag",
          "l_shipdate", "l_suppkey"), p = 10)
        .orderBy("column")),
    "q_profile_vec" -> ((s, dir) =>
      // per-DIMENSION profile of the embedding table — dead-dimension /
      // scale-drift / cardinality sanity for vector columns; bounded by
      // width (64 groups), HLL estimates bit-replayed like q_profile
      graft.stats.Profile.profileArray(
        embeddings(s, dir), "embedding", p = 10)
        .orderBy("dim")),
    "q_zorder" -> ((s, dir) => {
      // Morton z-values over (l_partkey, l_suppkey): the layout key
      // graft.operators.Zorder.clusterBy range-partitions and sorts by
      // before writing, so each parquet file covers one compact
      // (partkey, suppkey) hyper-rectangle and min/max footer stats
      // prune conjunctive range scans on EITHER dimension. Pure bit
      // arithmetic — the oracle replays the interleave verbatim;
      // ZorderSpec measures the file-pruning win on real written files.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.operators.Zorder.zvalue(
            Seq(col("l_partkey"), col("l_suppkey")), bits = 15).as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")
    }),
    "q_zorder_rank" -> ((s, dir) => {
      // rank-based z-values over (l_extendedprice, l_shipdate): the
      // equi-depth variant for dimensions that are not small
      // non-negative ints — buckets are floor(rows_before * 2^10 / N),
      // integer-exact and partitioning-independent, so the oracle
      // replays them with one SQL window per dimension.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      graft.operators.Zorder.zvalueByRank(li,
          Seq("l_extendedprice", "l_shipdate"), bits = 10, zcol = "zval")
        .select("l_orderkey", "l_linenumber", "zval")
        .orderBy("zval", "l_orderkey", "l_linenumber")
    }),
    "q_bloom_dedup" -> ((s, dir) => {
      // incremental dedup of a "new crawl" (odd doc_ids + replayed
      // copies of every 10th even doc) against the "existing corpus"
      // (even doc_ids) via a Bloom filter: ONE m-bit aggregate over
      // existing, then scan-local bit tests — the corpus is never
      // joined for the verdicts. maybe_seen=false is exact (no false
      // negatives); the exact-recheck join below exists only to LABEL
      // false positives for the oracle (bit-reproducible: double-md5
      // Kirsch-Mitzenmacher positions, m=32768, k=3).
      val d = documents(s, dir).select("doc_id", "text")
      val existing = d.filter(col("doc_id") % 2 === 0)
      val incoming = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val probed = Bloom.incrementalDedup(existing, incoming, "text",
        mBits = 32768, k = 3)
      val seen = existing.select("text").distinct()
        .withColumn("seen_exact", lit(true))
      probed.join(seen, Seq("text"), "left")
        .select(col("doc_id"), col("maybe_seen"),
          coalesce(col("seen_exact"), lit(false)).as("seen_exact"),
          (col("maybe_seen") &&
            !coalesce(col("seen_exact"), lit(false))).as("false_positive"))
        .orderBy("doc_id")
    }),
    "q_jaccard_pairs" -> ((s, dir) =>
      docJaccardPairs(s, dir, n = 3, minJaccard = 0.3, maxDf = 100)),
    "q_dedup_clusters" -> ((s, dir) =>
      // connected components over the exact-Jaccard near-dup pair graph;
      // oracle = recursive-CTE transitive closure with min-label
      Dedup.duplicateClusters(
        docJaccardPairs(s, dir, n = 3, minJaccard = 0.3, maxDf = 100)
          .select("doc_a", "doc_b"))),
    "q_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDupsFromSets(docShingleSets(s, dir, n = 3),
        numHashes = 16, bands = 4, minJaccard = 0.5)),
    "q_crosscorpus_neardup" -> ((s, dir) => {
      // incremental-ingest near-dup join (round 13): a deterministic
      // "delta crawl" (every 7th doc re-crawled with an appended
      // revision stamp, every 13th an exact mirror, both re-id'd)
      // LSH-joined against the FULL corpus — the batch pairs with the
      // corpus only, never the corpus with itself; the corpus-side
      // shingle sets are the shared persisted artifact
      val d = documents(s, dir)
      val batch = d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(col("text"), lit(" updated revision 2026")).as("text"))
        .unionByName(d.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 600000).as("doc_id"), col("text")))
      Dedup.crossCorpusNearDupsFromSets(
        Dedup.shingleSets(batch, n = 3),
        docShingleSets(s, dir, n = 3),
        numHashes = 16, bands = 4, minJaccard = 0.5)
    }),
    "q_edit_neardup" -> ((s, dir) =>
      // LSH proposes, levenshtein disposes (round 10): the same banded
      // MinHash candidates as q_minhash_neardup, verified by exact
      // character-level edit similarity — the order-SENSITIVE verdict
      // the order-blind Jaccard verify cannot give. Threshold on the
      // integer cross-product, sim one IEEE division.
      Dedup.editVerifiedNearDups(documents(s, dir), n = 3,
        numHashes = 16, bands = 4, minSim = 0.4)),
    "q_edit_neardup_tight" -> ((s, dir) =>
      // the TIGHT operating point (minSim=0.8): the banded kernel's
      // per-pair bound is now 0.2·len, so the DP runs a narrow band
      // and dissimilar candidates exit within a few rows — the bench
      // twin of q_edit_neardup that makes the band's asymptotic win
      // visible in the artifact, at identical verify semantics
      Dedup.editVerifiedNearDups(documents(s, dir), n = 3,
        numHashes = 16, bands = 4, minSim = 0.8)),
    "q_simhash" -> ((s, dir) =>
      Dedup.simHash(documents(s, dir)).orderBy("doc_id")),
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(documents(s, dir), n = 3, w = 4)
        .orderBy("doc_id", "fingerprint")),
    "q_cdc_chunks" -> ((s, dir) =>
      // content-defined chunk boundaries (LBFS Karp-Rabin windows):
      // the chunk table itself, hash-pinned per chunk
      Cdc.cdcChunks(documents(s, dir), w = 8, divisor = 16)
        .drop("chunk").orderBy("doc_id", "chunk_idx")),
    "q_cdc_dedup" -> ((s, dir) =>
      // chunk-store dedup rollup: per document, how many of its CDC
      // chunks (and tokens) are already held by an earlier occurrence
      Cdc.cdcDedupStats(documents(s, dir), w = 8, divisor = 16)),
    "q_cdc_sync" -> ((s, dir) => {
      // rsync-for-corpora: held = evens' chunk store; incoming = new
      // odds + edited re-fetches of every 6th doc (a 2-token patch
      // inserted mid-text) — content-defined boundaries mean the
      // re-fetch re-ships only the edit neighbourhood's chunks
      val d = documents(s, dir).select("doc_id", "text")
      val held = d.filter(col("doc_id") % 2 === 0)
      val incoming = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"),
            concat(expr("substring(text, 1, 80)"), lit(" patched v2 "),
              expr("substring(text, 81)")).as("text")))
      Cdc.cdcSyncPlan(incoming, held, w = 8, divisor = 16)
    }),
    "q_cdc_bytes" -> ((s, dir) =>
      // byte-level Gear CDC (functions/GearChunks.scala) over the
      // documents' UTF-8 payload bytes — the corpus is verified
      // all-ASCII, so the oracle replays byte values via ascii() and
      // the lag-window spelling of the rolling hash's low bits
      Cdc.byteChunks(documents(s, dir).select("doc_id", "text"),
          binCol = "text", maskBits = 6)
        .orderBy("doc_id", "chunk_idx")),
    "q_cdc_bytes_sync" -> ((s, dir) => {
      // the q_cdc_sync scenario on BYTE chunks: held = evens' byte
      // store; incoming = odds + a 12-byte mid-text splice into every
      // 6th doc — only the splice neighbourhood's chunks re-ship
      val d = documents(s, dir).select("doc_id", "text")
      val held = d.filter(col("doc_id") % 2 === 0)
      val incoming = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 6 === 0)
          .select(col("doc_id"),
            concat(expr("substring(text, 1, 80)"), lit(" patched v2 "),
              expr("substring(text, 81)")).as("text")))
      Cdc.byteSyncPlan(incoming, held, binCol = "text", maskBits = 6)
    }),
    "q_cdc_media" -> ((s, dir) => {
      // byte-CDC sync over REAL media payloads: the synthetic P6 corpus
      // (header + cyclic body — pure column ops, every byte
      // oracle-reconstructable). held = evens' payload chunk store;
      // incoming = odds + re-encoded re-fetches of every 6th doc whose
      // SOURCE text took a 12-char splice — the shared payload prefix
      // (header + body up to the splice) re-ships nothing
      val d = documents(s, dir).select("doc_id", "text")
      val held = Multimodal.syntheticCorpus(d.filter(col("doc_id") % 2 === 0))
        .select(col("sample_id").as("doc_id"), col("content"))
      val patched = d.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"),
          concat(expr("substring(text, 1, 80)"), lit(" patched v2 "),
            expr("substring(text, 81)")).as("text"))
      val incoming = Multimodal.syntheticCorpus(
          d.filter(col("doc_id") % 2 === 1).unionByName(patched))
        .select(col("sample_id").as("doc_id"), col("content"))
      Cdc.byteSyncPlan(incoming, held, binCol = "content", maskBits = 6)
    }),
    "q_cdc_media_wav" -> ((s, dir) => {
      // byte-CDC sync over REAL RIFF/WAVE containers (8-bit mono PCM
      // through Wav.encode — binary LE header fields and all): the
      // same held/incoming split as q_cdc_media; the oracle rebuilds
      // the container byte-exactly in VARCHAR space (every byte ≤0x7F
      // by construction — see Multimodal.syntheticWavCorpus)
      implicit val sp: SparkSession = s
      val d = documents(s, dir).select("doc_id", "text")
      val held = Multimodal.syntheticWavCorpus(d.filter(col("doc_id") % 2 === 0))
        .select(col("sample_id").as("doc_id"), col("content"))
      val patched = d.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"),
          concat(expr("substring(text, 1, 80)"), lit(" patched v2 "),
            expr("substring(text, 81)")).as("text"))
      val incoming = Multimodal.syntheticWavCorpus(
          d.filter(col("doc_id") % 2 === 1).unionByName(patched))
        .select(col("sample_id").as("doc_id"), col("content"))
      Cdc.byteSyncPlan(incoming, held, binCol = "content", maskBits = 6)
    }),
    "q_cdc_media_y4m" -> ((s, dir) => {
      // byte-CDC sync over REAL YUV4MPEG2 containers (mono frames
      // through Y4m.encode, FRAME markers interleaved): same split;
      // the Y4M container is ASCII-framed so the oracle composes the
      // header + per-frame markers directly
      implicit val sp: SparkSession = s
      val d = documents(s, dir).select("doc_id", "text")
      val held = Multimodal.syntheticY4mCorpus(d.filter(col("doc_id") % 2 === 0))
        .select(col("sample_id").as("doc_id"), col("content"))
      val patched = d.filter(col("doc_id") % 6 === 0)
        .select(col("doc_id"),
          concat(expr("substring(text, 1, 80)"), lit(" patched v2 "),
            expr("substring(text, 81)")).as("text"))
      val incoming = Multimodal.syntheticY4mCorpus(
          d.filter(col("doc_id") % 2 === 1).unionByName(patched))
        .select(col("sample_id").as("doc_id"), col("content"))
      Cdc.byteSyncPlan(incoming, held, binCol = "content", maskBits = 6)
    }),
    "q_volume_drift" -> ((s, dir) => {
      // ingest-volume monitor over the events stream: hourly counts
      // per event_type on a dense spine (zeros are real), each hour
      // judged against its trailing-24h integer-sum mean/sigma. Bucket
      // arithmetic stays here so the oracle replays it in micro-space
      // (post-epoch data contract: div == floor, the q_sessions note)
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.stats.Drift.volumeDrift(ev, "event_type",
        expr("unix_micros(cast(ts as timestamp)) div 3600000000"),
        lookback = 24, zThresh = 3.0)
    }),
    "q_expectations" -> ((s, dir) => {
      // declarative data-quality gate: one wide integer-aggregate scan
      // + the exact uniqueness pass. The rule set deliberately includes
      // two FAILING rules at sf0.01 (price cap 100k — real max
      // ~105k — and a 100k row floor) so both verdict polarities land
      // in the oracle row.
      import graft.stats.Expectations
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      Expectations.check(li, Seq(
        Expectations.notNull("l_orderkey"),
        Expectations.between("l_quantity", 1.0, 50.0),
        Expectations.between("l_extendedprice", 0.0, 100000.0),
        Expectations.acceptedValues("l_returnflag", Seq("A", "N", "R")),
        Expectations.unique("l_orderkey", "l_linenumber"),
        Expectations.rowCountAtLeast(100000L)))
    }),
    "q_topk_per_key" -> ((s, dir) => {
      // the custom physical operator (plans/TopKPerKey.scala): top-3
      // docs per source by token count — partial bounded heaps below
      // the exchange instead of the window path's full per-group sort
      val d = documents(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.plans.TopKPerKey.topKPerKey(d, Seq("source"),
          Seq(("n_tokens", false), ("doc_id", true)), k = 3)
        .orderBy("source", "doc_id")
    }),
    // measured heap-vs-sort pair (SURVEY §7.5b item #2): the SAME top-5
    // lineitems-per-supplier task on the round's biggest table, once on
    // the custom partial-heap operator and once on the builtin
    // WindowGroupLimit path — BENCH_r{N}.json carries both medians side
    // by side. 600k rows / 1k suppliers at sf0.1, so the top-k machinery
    // (not tokenization) dominates both plans.
    "q_topk_lineitem" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
      graft.plans.TopKPerKey.topKPerKey(li, Seq("l_suppkey"),
          Seq(("l_extendedprice", false), ("l_orderkey", true),
            ("l_linenumber", true)), k = 5)
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q_topk_window" -> ((s, dir) => {
      // identical task, window spelling. The rank column is KEPT in the
      // output, so RewriteTopKWindow deliberately does not fire and the
      // plan is Spark's own: sort → partial WindowGroupLimit → exchange
      // → sort → final WindowGroupLimit → Window → filter. This is the
      // honest builtin baseline for q_topk_lineitem, not a second copy.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
      li.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")
            .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
              col("l_linenumber"))))
        .filter(col("rn") <= 5)
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    "q_compact" -> ((s, dir) => {
      // small-file COMPACTION end-to-end (round 13): lay the corpus
      // out z-ordered into deliberately many small files, bin-pack
      // them (Compact.binPack — contiguous runs only, order-named
      // outputs), then aggregate the COMPACTED table per source with
      // a content hash. The oracle computes the same card off the
      // ORIGINAL parquet: value losslessness is THE compaction
      // contract, so equal cards = the rewrite dropped, duplicated,
      // and mutated nothing. File-count/byte assertions are
      // environment-shaped and live in LayoutProbeSpec instead.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact").toString
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      graft.operators.Zorder
        .clusterByRank(d, Seq("source", "n_chars"), bits = 8,
          numFiles = 24)
        .write.mode("overwrite").parquet(s"$root/in")
      val fs = new org.apache.hadoop.fs.Path(s"$root/out")
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/out"), true)
      val rep = graft.operators.Compact.binPack(s, s"$root/in",
        s"$root/out", targetBytes = 1L << 20)
      require(rep.nFilesAfter < rep.nFilesBefore,
        s"compaction did not reduce the file count: $rep")
      s.read.parquet(s"$root/out")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_compact_part" -> ((s, dir) => {
      // HIVE-PARTITIONED compaction end-to-end (round 14, VERDICT r13
      // #2): lay the corpus out partitioned by source with a small-
      // file tail in every leaf, binPackPartitioned (bins never cross
      // a partition boundary; all partitions share the rewrite waves
      // and ONE distributed copy job), then the q_compact value-
      // losslessness card off the COMPACTED table — the partition
      // column itself comes back through directory discovery, so
      // equal cards pin both row values and partition values.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact-part").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/out"), true)
      documents(s, dir).select("doc_id", "text", "source", "n_chars")
        .repartition(6)
        .write.partitionBy("source").mode("overwrite")
        .parquet(s"$root/in")
      val rep = graft.operators.Compact.binPackPartitioned(s, s"$root/in",
        s"$root/out", targetBytes = 1L << 20)
      require(rep.nFilesAfter < rep.nFilesBefore,
        s"partitioned compaction did not reduce the file count: $rep")
      s.read.parquet(s"$root/out")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_compact_append" -> ((s, dir) => {
      // the managed-table LIFECYCLE in one query (round 14): seed
      // half the corpus as a plain directory, APPEND the other half
      // through the atomic manifest commit, OPTIMIZE in place, read
      // through the manifest — the card equals the WHOLE corpus
      // aggregated, so no row was lost, duplicated, or double-served
      // across the three commits.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact-append")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      d.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.parquet(s"$root/t")
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 2 === 1).repartition(4))
      val rep = graft.operators.Compact.binPackInPlace(s, s"$root/t",
        targetBytes = 1L << 20)
      require(rep.nFilesBefore == 8L,
        s"lifecycle fixture expected 4 seed + 4 appended files: $rep")
      graft.operators.Compact.read(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_compact_append_part" -> ((s, dir) => {
      // the PARTITIONED managed lifecycle (round 15): seed half the
      // corpus as a hive layout, append the other half through ONE
      // partitioned write + per-leaf atomic manifest commits
      // (appendManagedPartitioned), then REPLAY the same txn token —
      // the replay must no-op every leaf (per-leaf exactly-once), and
      // the card through the manifest-aware partitioned reader equals
      // the whole corpus: no row lost, duplicated, or double-served
      // across the per-leaf commits and the replay.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-capart").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      d.filter(col("doc_id") % 2 === 0).repartition(2)
        .write.partitionBy("source").parquet(s"$root/t")
      val odd = d.filter(col("doc_id") % 2 === 1)
      graft.operators.Compact.appendManagedPartitioned(s, s"$root/t",
        odd, Seq("source"), txn = Some(("q15", 0L)))
      val replay = graft.operators.Compact.appendManagedPartitioned(s,
        s"$root/t", odd, Seq("source"), txn = Some(("q15", 0L)))
      require(replay.nFilesAfter == replay.nFilesBefore,
        s"replayed txn appended files: $replay")
      graft.operators.Compact.readPartitioned(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_skipping" -> ((s, dir) => {
      // DATA SKIPPING (round 15): four appends, each a contiguous
      // doc_id slab, with per-file min/max bounds recorded in the
      // manifest at commit time (parquet-footer metadata, one
      // distributed job per batch); readBetween drops slabs whose
      // bounds miss [130, 240] BEFORE any footer is fetched and
      // applies the residual filter, so the card equals the plain
      // WHERE — the file-level pruning itself is pinned in
      // LayoutProbeSpec via inputFiles.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-skip").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      Seq((0L, 125L), (125L, 250L), (250L, 375L), (375L, Long.MaxValue))
        .foreach { case (lo, hi) =>
          graft.operators.Compact.appendManaged(s, s"$root/t",
            d.filter(col("doc_id") >= lo && col("doc_id") < hi)
              .repartition(1),
            statsCols = Seq("doc_id")): Unit
        }
      graft.operators.Compact.readBetween(s, s"$root/t", "doc_id",
          130L, 240L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_skipping_card" -> ((s, dir) => {
      // the skipping telemetry (round 15): the same four contiguous
      // doc_id slabs as q_skipping, then the one-row card pricing the
      // [130, 240] range from MANIFEST metadata alone — the number an
      // operator reads to decide whether the layout serves the
      // predicate (n_read/n_files ≈ 1 on a hot column ⇒ OPTIMIZE
      // ZORDER). The oracle recomputes each slab's bounds from
      // content, so the pruning arithmetic itself is verified.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-skipc").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      Seq((0L, 125L), (125L, 250L), (250L, 375L), (375L, Long.MaxValue))
        .foreach { case (lo, hi) =>
          graft.operators.Compact.appendManaged(s, s"$root/t",
            d.filter(col("doc_id") >= lo && col("doc_id") < hi)
              .repartition(1),
            statsCols = Seq("doc_id")): Unit
        }
      graft.operators.Compact.skippingCard(s, s"$root/t", "doc_id",
        130L, 240L)
    }),
    "q_read_where" -> ((s, dir) => {
      // STRUCTURED-CLAUSE data skipping (round 15): the same
      // four-slab managed table, read through a CONJUNCTION of
      // prunable clauses (range ∧ IN on the tracked column) — each
      // clause prunes independently against the per-file bounds and
      // both re-apply as the residual filter, so the card equals the
      // plain WHERE with both predicates.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-rwhere").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      Seq((0L, 125L), (125L, 250L), (250L, 375L), (375L, Long.MaxValue))
        .foreach { case (lo, hi) =>
          graft.operators.Compact.appendManaged(s, s"$root/t",
            d.filter(col("doc_id") >= lo && col("doc_id") < hi)
              .repartition(1),
            statsCols = Seq("doc_id")): Unit
        }
      graft.operators.Compact.readWhere(s, s"$root/t", Seq(
          graft.operators.Compact.LongRange("doc_id", 130L, 240L),
          graft.operators.Compact.LongIn("doc_id",
            Seq(5L, 135L, 200L, 305L))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_schema_widen" -> ((s, dir) => {
      // SCHEMA EVOLUTION (round 15): seed the even half, then append
      // the odd half WIDENED by a derived column under allowWiden —
      // the manifest flags #merge and the managed read merges
      // schemas, so seeded rows read the new column as null. The card
      // folds the null/value split per source; equality pins both the
      // widened write and the merged read.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-widen").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 2 === 0).repartition(2))
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 2 === 1)
          .withColumn("extra", col("n_chars") * 2L).repartition(2),
        allowWiden = true)
      graft.operators.Compact.read(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(coalesce(col("extra"), lit(-1L))).as("extra_sig"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_read_changes" -> ((s, dir) => {
      // INCREMENTAL CONSUMPTION (round 15): seed a third of the
      // corpus (identity manifest g0), append the other two thirds as
      // two committed batches (g1, g2), then read only the INCREMENT
      // between retained generations — the change feed a downstream
      // delta pipeline (cross-corpus dedup, index refresh) consumes
      // instead of re-scanning the table. Cards over (0,2] and (1,2]
      // pin that the file increment is exactly the appended batches.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-rchg").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      d.filter(col("doc_id") % 3 === 0).repartition(2)
        .write.parquet(s"$root/t")
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 3 === 1).repartition(2))
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 3 === 2).repartition(2))
      Seq(0L, 1L).map { g =>
        graft.operators.Compact.readChanges(s, s"$root/t", g, 2L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
              col("text"))) % 1000003L).as("content_sig"))
          .withColumn("from_gen", lit(g))
          .select("from_gen", "source", "n_docs", "sum_chars",
            "content_sig")
      }.reduce(_.unionByName(_)).orderBy("from_gen", "source")
    }),
    "q_manifest_history" -> ((s, dir) => {
      // TIME TRAVEL through the retention window (round 15): seed the
      // even half (identity manifest g0), append the odd half (g1),
      // OPTIMIZE in place (g2) — then read every retained generation
      // back with readAt and card each one. g0's card is exactly the
      // even half; g1 and g2 are the whole corpus (the compaction is
      // layout-only) — equal cards at different generations pin both
      // the history contract and compaction losslessness at once.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-mhist").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      val d = documents(s, dir)
        .select("doc_id", "text", "source", "n_chars")
      d.filter(col("doc_id") % 2 === 0).repartition(4)
        .write.parquet(s"$root/t")
      graft.operators.Compact.appendManaged(s, s"$root/t",
        d.filter(col("doc_id") % 2 === 1).repartition(4))
      graft.operators.Compact.binPackInPlace(s, s"$root/t",
        targetBytes = 1L << 20)
      Seq(0L, 1L, 2L).map { g =>
        graft.operators.Compact.readAt(s, s"$root/t", g)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
              col("text"))) % 1000003L).as("content_sig"))
          .withColumn("gen", lit(g))
          .select("gen", "source", "n_docs", "sum_chars", "content_sig")
      }.reduce(_.unionByName(_)).orderBy("gen", "source")
    }),
    "q_zorder_optimize" -> ((s, dir) => {
      // OPTIMIZE ZORDER in place (round 14): a hash-mixed layout
      // (every file spans every key range — prunes nothing)
      // re-clusters at its own path through the manifest commit;
      // the card proves value losslessness through the manifest
      // reader, and LayoutProbeSpec pins the pruning restoration and
      // torn-state behavior.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-zorder-opt")
        .toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/t"), true)
      documents(s, dir).select("doc_id", "text", "source", "n_chars")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$root/t")
      val rep = graft.operators.Compact.optimizeZorder(s, s"$root/t",
        Seq("source", "n_chars"), targetBytes = 1L << 20, bits = 8)
      require(rep.nBinsRewritten == rep.nFilesAfter &&
        rep.nFilesCopied == 0L && rep.bytesRewritten == rep.bytesBefore,
        s"zorder optimize must rewrite exactly the live set: $rep")
      graft.operators.Compact.read(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_zorder_optimize_part" -> ((s, dir) => {
      // PARTITIONED OPTIMIZE ZORDER (round 15, VERDICT r14 #3): the
      // hive layout real tables use, every leaf re-clustered on its
      // data dimensions through the per-leaf manifest protocol, all
      // leaves pooling shared ranked-shuffle waves; the card through
      // the manifest-aware partitioned reader pins value AND
      // partition-column losslessness. LayoutProbeSpec pins the
      // per-leaf pruning restoration and torn-state recovery.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-zorder-part")
        .toString
      documents(s, dir).select("doc_id", "text", "source", "n_chars")
        .repartition(6)
        .write.partitionBy("source").mode("overwrite")
        .parquet(s"$root/t")
      val rep = graft.operators.Compact.optimizeZorderPartitioned(s,
        s"$root/t", Seq("n_chars", "doc_id"), targetBytes = 1L << 20,
        bits = 8)
      require(rep.nFilesCopied == 0L &&
        rep.bytesRewritten == rep.bytesBefore,
        s"partitioned zorder must rewrite exactly the live sets: $rep")
      graft.operators.Compact.readPartitioned(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_compact_part_inplace" -> ((s, dir) => {
      // IN-PLACE partitioned compaction (round 14): the same hive
      // layout compacted at its own path — every leaf runs the
      // manifest protocol (identity manifest, tail rewrite, one
      // atomic commit per leaf) with all leaves pooling shared
      // rewrite waves; large files untouched. Read back through the
      // manifest-aware partitioned reader; the oracle is the same
      // value-losslessness card (partition column included).
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact-pinp")
        .toString
      documents(s, dir).select("doc_id", "text", "source", "n_chars")
        .repartition(6)
        .write.partitionBy("source").mode("overwrite")
        .parquet(s"$root/t")
      val rep = graft.operators.Compact.binPackPartitionedInPlace(s,
        s"$root/t", targetBytes = 1L << 20)
      require(rep.nFilesAfter < rep.nFilesBefore,
        s"in-place partitioned compaction did not reduce files: $rep")
      graft.operators.Compact.readPartitioned(s, s"$root/t")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(TextOps.hash56(concat_ws(":", lit("cmp"), col("doc_id"),
            col("text"))) % 1000003L).as("content_sig"))
        .orderBy("source")
    }),
    "q_compact_card" -> ((s, dir) => {
      // compaction TELEMETRY (round 14, VERDICT r13 #8): the
      // OPTIMIZE-advisor profile card. The layout is deterministic
      // and oracle-replayable — doc → file by hash56 mod 24, one file
      // per bucket (unionKeepingPartitions keeps one partition per
      // branch, so part index == bucket) — and the card's ROW-side
      // telemetry (per-file parquet-FOOTER row counts + totals) is
      // replayed exactly by DuckDB from the same assignment. The
      // byte-side fields (sizes, small shares, projected bins) are
      // environment-shaped and pinned in LayoutProbeSpec instead.
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact-card").toString
      val nf = 24
      val d = documents(s, dir)
        .select(col("doc_id"),
          pmod(TextOps.hash56(concat(lit("card:"),
            col("doc_id").cast("string"))), lit(nf.toLong)).as("f"))
        .localCheckpoint()
      require(d.select("f").distinct().count() == nf.toLong,
        "every file bucket must be populated for index==bucket to hold")
      val branches = (0 until nf).map(i =>
        d.filter(col("f") === i.toLong).coalesce(1))
      org.apache.spark.sql.graftbridge.ColumnBridge
        .unionKeepingPartitions(branches)
        .write.mode("overwrite").parquet(s"$root/t")
      org.apache.spark.sql.graftbridge.ColumnBridge
        .unpersistLocalCheckpoint(d)
      val prof = graft.operators.Compact
        .profileFiles(s, s"$root/t", targetBytes = 1L << 20)
        .select(col("file_idx"), col("n_rows"))
      val tot = prof.agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("n_rows_total"))
      prof.crossJoin(broadcast(tot)).orderBy("file_idx")
    }),
    "q_compact_part_card" -> ((s, dir) => {
      // the PER-PARTITION OPTIMIZE advisor (round 14): deterministic
      // layout — repartition(1) + partitionBy(source) writes exactly
      // ONE file per source leaf, so the per-leaf card's row-side
      // telemetry (leaf path, file count, footer row totals) is
      // replayable from content; the multi-file-per-leaf byte
      // behavior (small shares, bin projections) is environment-
      // shaped and pinned in LayoutProbeSpec instead
      val root = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft-q-compact-pcard")
        .toString
      documents(s, dir).select("doc_id", "source", "n_chars")
        .repartition(1)
        .write.partitionBy("source").mode("overwrite")
        .parquet(s"$root/t")
      graft.operators.Compact
        .profileCardPartitioned(s, s"$root/t", targetBytes = 1L << 20)
        .select(col("partition"), col("n_files"), col("n_rows"))
        .orderBy("partition")
    }),
    "q_text_stats" -> ((s, dir) =>
      TextStats.textStats(documents(s, dir)).orderBy("doc_id")),
    "q_token_counts" -> ((s, dir) =>
      TextStats.tokenCounts(documents(s, dir)).orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) =>
      TextStats.languageId(documents(s, dir)).orderBy("doc_id")),
    "q_repetition" -> ((s, dir) =>
      TextStats.repetitionStats(documents(s, dir), ns = Seq(2, 3))),
    "q_ann_cosine" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 20), k = 10)
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 20), k = 10,
        nBits = 16, bands = 8, dim = 64)
    }),
    "q_ann_truncated" -> ((s, dir) => {
      // dimension-adaptive retrieval (round 13): prefix-16 cosine
      // first pass (quarter of the flops), shortlist 40, exact 64-dim
      // rerank — the Matryoshka read pattern
      val e = embeddings(s, dir)
      Similarity.truncatedTopK(e, e.filter(col("vec_id") < 20),
        prefixDim = 16, k = 10, shortlist = 40)
    }),
    // oracle: the fixed-point k-means is bitwise reproducible, so the
    // DuckDB twin replays the identical Lloyd iterations as unrolled
    // CTEs (exact integer distances; see Ivf's exactness note)
    "q_vec_outliers" -> ((s, dir) =>
      // embedding outlier curation (round 13): exact grid distance to
      // the assigned coarse cell, z-scored within the cell (decimal
      // moment sums, 4 IEEE ops) — prunes encoder failures and
      // off-distribution vectors on each region's own scale
      graft.vector.Embeddings.outlierScores(embeddings(s, dir),
        coarseCentroids(s, dir))),
    "q_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.vector.Ivf.ivfTopK(e, e.filter(col("vec_id") < 20), k = 10,
        nCells = 16, nProbe = 4, trained = Some(coarseCentroids(s, dir)))
    }),
    "q_ann_filtered" -> ((s, dir) => {
      // METADATA-FILTERED ANN (round 13): "top-k WHERE label % 3 = 0"
      // — the predicate applies BEFORE any distance work (pushed into
      // the parquet scan; plan-pinned in SimilaritySpec) and the
      // probed IVF search runs over the survivors against the SHARED
      // full-corpus coarse quantizer (the index is a corpus-level
      // artifact — same memoized centroids as q_ann_ivf, no
      // per-predicate retrain). ~40% selectivity keeps the probed arm
      // exercised; the tiny-survivor brute fallback is spec-pinned
      val e = embeddings(s, dir)
      graft.vector.Ivf.ivfTopKFiltered(e, e.filter(col("vec_id") < 20),
        col("label") % 3 === 0, k = 10, nCells = 16, nProbe = 4,
        trained = Some(coarseCentroids(s, dir)))
    }),
    "q_pq_adc" -> ((s, dir) => {
      val e = embeddings(s, dir)
      graft.vector.Pq.adcTopK(e, e.filter(col("vec_id") < 20),
        pqBooks(s, dir), dim = 64, k = 10)
    }),
    "q_ivfadc" -> ((s, dir) => {
      // the full IVFADC stack: coarse IVF probe + RESIDUAL-code PQ ADC
      // over the probed cells only (equi-join candidates, no full
      // scan); codes quantize x − c_cell and queries build one ADC
      // table per probed cell from q − c_cell (Jégou 2011 §III)
      val e = embeddings(s, dir)
      graft.vector.Pq.ivfAdcTopK(e, e.filter(col("vec_id") < 20),
        coarseCentroids(s, dir), pqResidBooks(s, dir), dim = 64, k = 10,
        nProbe = 4)
    }),
    "q_ann_filter_card" -> ((s, dir) =>
      // selectivity telemetry for the filtered read (round 18): one
      // row — corpus size, survivors, 1e-6 half-away selectivity,
      // cells the survivors touch, and the largest per-cell survivor
      // population (predicate x cluster skew); makes the
      // brute-fallback threshold tunable from data
      graft.vector.Ivf.filterCard(embeddings(s, dir),
        col("label") % 3 === 0, nCells = 16,
        trained = Some(coarseCentroids(s, dir)))),
    "q_ann_recall" -> ((s, dir) => {
      // ANN RECALL CARD (round 14, VERDICT r13 #5): exact brute top-k
      // over the bounded query sample is the ground truth; the IVF
      // probe sweep (1..16 against 16 cells — the last arm probes
      // every cell, so its recall is exactly 1e6) and the IVFADC
      // byte-budget path are graded against it, one row per arm with
      // the half-away 1e-6-grid recall@10. All arms share the
      // corpus-level quantizer artifacts.
      val e = embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val cents = coarseCentroids(s, dir)
      val truth = Similarity.bruteForceTopK(e, q, k = 10)
      val arms = Seq(1, 2, 4, 8, 16).map(p => ("ivf", p.toLong,
        graft.vector.Ivf.ivfTopK(e, q, k = 10, nCells = 16, nProbe = p,
          trained = Some(cents)))) :+
        (("ivfadc", 4L, graft.vector.Pq.ivfAdcTopK(e, q, cents,
          pqResidBooks(s, dir), dim = 64, k = 10, nProbe = 4)))
      graft.vector.Ivf.recallCard(truth, arms).orderBy("arm", "n_probe")
    }),
    "q_ann_tune" -> ((s, dir) => {
      // RECALL-TARGET probe tuning (round 14): the operational close
      // of the recall-card loop — recall is monotone in nProbe under
      // the exact rerank, so the CHEAPEST probe setting meeting the
      // 90% target is the one to deploy; one row out (the chosen
      // setting with its measured recall), derived from the card by
      // pure DataFrame ops so the verdict replays in the oracle.
      val e = embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val cents = coarseCentroids(s, dir)
      val truth = Similarity.bruteForceTopK(e, q, k = 10)
      val sweep = Seq(1, 2, 4, 8, 16).map(p => ("ivf", p.toLong,
        graft.vector.Ivf.ivfTopK(e, q, k = 10, nCells = 16, nProbe = p,
          trained = Some(cents))))
      graft.vector.Ivf.tuneNProbe(
        graft.vector.Ivf.recallCard(truth, sweep), targetMicro = 900000L)
    }),
    "q_ann_tune_rerank" -> ((s, dir) => {
      // RERANK-DEPTH tuning (round 15, VERDICT r14 #4): the
      // byte-budget path's OTHER knob — ivfAdcTopK shortlists
      // rerank*k candidates by ADC before the exact-cosine rerank,
      // and a larger multiplier is a candidate SUPERSET, so recall is
      // monotone in it exactly as in nProbe (SimilaritySpec pins the
      // sweep). The card grades the 1/2/4/8 multipliers at the
      // deployed nProbe=4 against the same sampled exact truth; the
      // tuner picks the cheapest multiplier meeting the target
      // (best-effort max if the probe ceiling is below it) — the
      // second deployment knob derived from measurement, not guessed.
      val e = embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val cents = coarseCentroids(s, dir)
      val books = pqResidBooks(s, dir)
      val truth = Similarity.bruteForceTopK(e, q, k = 10)
      val arms = Seq(1, 2, 4, 8).map(r => ("ivfadc", r.toLong,
        graft.vector.Pq.ivfAdcTopK(e, q, cents, books, dim = 64, k = 10,
          nProbe = 4, rerank = r)))
      graft.vector.Ivf.tuneRerank(
        graft.vector.Ivf.rerankRecallCard(truth, arms),
        targetMicro = 750000L)
    }),
    "q_ann_recall_filtered" -> ((s, dir) => {
      // the FILTERED arm of the recall card (round 14 — recallCard is
      // truth-generic, so the filtered read paths grade against THEIR
      // ground truth: exact brute top-k over the predicate's
      // survivors). ivfTopKFiltered at full probe degrades to brute
      // over survivors, so that arm's recall is exactly 1e6; the
      // filtered IVFADC arm prices the byte-budget path under the
      // same predicate.
      val e = embeddings(s, dir)
      val q = e.filter(col("vec_id") < 20)
      val cents = coarseCentroids(s, dir)
      val pred = col("label") % 3 === 0
      val surv = e.filter(pred)
      val truth = Similarity.bruteForceTopK(surv, q, k = 10)
      val arms = Seq(1, 4, 16).map(p => ("ivf_f", p.toLong,
        graft.vector.Ivf.ivfTopKFiltered(e, q, pred, k = 10,
          nCells = 16, nProbe = p, trained = Some(cents)))) :+
        (("ivfadc_f", 4L, graft.vector.Pq.ivfAdcTopK(surv, q, cents,
          pqResidBooks(s, dir), dim = 64, k = 10, nProbe = 4)))
      graft.vector.Ivf.recallCard(truth, arms).orderBy("arm", "n_probe")
    }),
    "q_ann_filtered_adc" -> ((s, dir) => {
      // the FILTERED read on the byte-budget path (round 13): the
      // metadata predicate composes directly with ivfAdcTopK because
      // the quantizer artifacts (coarse cells, residual codebooks)
      // are corpus-level and passed in — filter the corpus frame,
      // codes and candidates restrict to survivors, probes and the
      // exact-cosine rerank tail are unchanged; the predicate pushes
      // to the embeddings scan before any residual work
      val e = embeddings(s, dir)
      graft.vector.Pq.ivfAdcTopK(e.filter(col("label") % 3 === 0),
        e.filter(col("vec_id") < 20),
        coarseCentroids(s, dir), pqResidBooks(s, dir), dim = 64, k = 10,
        nProbe = 4)
    }),
    "q_cluster_sample" -> ((s, dir) => {
      // cluster-balanced (diversity) sampling (round 10): k-means
      // cells over the direction-normalized embeddings (the SemDeDup
      // quantizer recipe — 16 cells, 5 exact fixed-point Lloyd
      // iterations on the deterministic hash-subsample), then 10
      // winners PER CELL by the salted-hash rank. Per-cluster
      // sampling is the diversity/curriculum stage an i.i.d. draw
      // cannot express: rare clusters keep representation.
      val e = embeddings(s, dir)
      val nrm = e.select(col("vec_id"), col("embedding"),
          Similarity.l2Norm(col("embedding")).as("__n"))
        .withColumn("__nv",
          transform(col("embedding"), x => x.cast("double") / col("__n")))
      val cents = Ivf.trainCentroids(nrm, nCells = 16, iters = 5,
        vecCol = "__nv")
      val asg = nrm.select(col("vec_id"),
        Ivf.cellOf(col("__nv"), cents).cast("long").as("cell"))
      CorpusOps.sampleKPerGroup(asg, k = 10, idCol = "vec_id",
          groupCol = "cell")
        .select(col("vec_id"), col("cell"), col("pick_rank"))
        .orderBy("cell", "pick_rank")
    }),
    "q_semdedup" -> ((s, dir) =>
      // semantic dedup over the planted-copy corpus: the 1.25-scaled
      // copies normalize onto their originals, land in the same k-means
      // cell, and are flagged with keep_id = the original
      graft.vector.SemDedup.semDedup(dupVecCorpus(s, dir),
        nCells = 16, threshold = 0.95).orderBy("vec_id")),
    "q_neardup_cosine" -> ((s, dir) =>
      // self-join near-dup path: 8-bit bands (vs the ANN top-k's 2-bit
      // bands) keep bucket sizes bounded when every corpus row is a query
      Similarity.cosineNearDups(dupVecCorpus(s, dir), minCosine = 0.95,
        nBits = 64, bands = 8, dim = 64)),
    "q_frames" -> ((s, dir) => {
      // REAL decode path: the synthetic corpus rows are genuine binary
      // PPMs, so each frame is an actual pixel row of the parsed grid.
      // Bytes compared as hex: a hex string slices byte-aligned in both
      // engines.
      implicit val sp: SparkSession = s
      import s.implicits._
      Multimodal.sampleFrames(
        Multimodal.syntheticCorpus(documents(s, dir)).as[graft.multimodal.MediaSample],
        n = 4).toDF()
        .select(col("sample_id"), col("modality"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("sample_id", "frame_idx")
    }),
    "q_resize" -> ((s, dir) => {
      // REAL decode path: parse the P6 grid, nearest-neighbour resize,
      // re-encode; content_hex pins every output pixel byte.
      implicit val sp: SparkSession = s
      import s.implicits._
      Multimodal.resize(
        Multimodal.syntheticCorpus(documents(s, dir)).as[graft.multimodal.MediaSample],
        32, 32).toDF()
        .select(col("sample_id"), col("modality"), col("width"), col("height"),
          length(col("content")).as("n_bytes"),
          hex(col("content")).as("content_hex"))
        .orderBy("sample_id")
    }),
    "q_audio_energy" -> ((s, dir) => {
      // REAL decode path (round 14): 8-sample energy windows over the
      // decoded PCM of genuine RIFF/WAVE containers — exact integer
      // Σ(centered amplitude)², silence by integer cross-product. The
      // oracle regenerates the synthetic sample bytes from the text
      // (ASCII ≤ 0x7F, so VARCHAR code points ARE the PCM bytes)
      implicit val sp: SparkSession = s
      import s.implicits._
      val wav = Multimodal.syntheticWavCorpus(documents(s, dir))
        .select(col("sample_id"), lit("audio").as("modality"),
          col("content"), lit(0).as("width"), lit(0).as("height"),
          lit(8000).as("sample_rate"), lit(0).as("duration_ms"))
        .as[graft.multimodal.MediaSample]
      Multimodal.audioEnergyWindows(wav, windowSamples = 8,
          silenceMeanSquare = 2500L)
        .orderBy("sample_id", "win_idx")
    }),
    "q_audio_trim" -> ((s, dir) => {
      // per-document KEEP/TRIM verdict composed off the energy windows
      // (round 15): leading/trailing silent windows cut, the kept PCM
      // span re-encoded through the REAL Wav.encode (payload compared
      // byte-for-byte in hex space — the all-ASCII container the
      // q_cdc_media_wav oracle already rebuilds), all-silent clips
      // dropped with an empty payload
      implicit val sp: SparkSession = s
      import s.implicits._
      val wav = Multimodal.syntheticWavCorpus(documents(s, dir))
        .select(col("sample_id"), lit("audio").as("modality"),
          col("content"), lit(0).as("width"), lit(0).as("height"),
          lit(8000).as("sample_rate"), lit(0).as("duration_ms"))
        .as[graft.multimodal.MediaSample]
      Multimodal.audioTrim(wav, windowSamples = 8,
          silenceMeanSquare = 2500L)
        .select(col("sample_id"), col("n_windows"), col("keep"),
          col("trim_start"), col("trim_end"), col("n_kept"),
          hex(col("payload")).as("payload_hex"))
        .orderBy("sample_id")
    }),
    "q_trim_report" -> ((s, dir) => {
      // the storage-saving CARD over the trim verdicts (round 15):
      // container bytes in vs re-encoded bytes out, exact integers —
      // what a curation run reports before committing the rewrite
      implicit val sp: SparkSession = s
      import s.implicits._
      val corpus = Multimodal.syntheticWavCorpus(documents(s, dir))
      val wav = corpus
        .select(col("sample_id"), lit("audio").as("modality"),
          col("content"), lit(0).as("width"), lit(0).as("height"),
          lit(8000).as("sample_rate"), lit(0).as("duration_ms"))
        .as[graft.multimodal.MediaSample]
      val trims = Multimodal.audioTrim(wav, windowSamples = 8,
        silenceMeanSquare = 2500L)
      trims.join(corpus.select(col("sample_id"),
          length(col("content")).cast("long").as("__in")), Seq("sample_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept_docs"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped_docs"),
          sum(col("__in")).as("bytes_in"),
          sum(when(col("keep"), length(col("payload")).cast("long"))
            .otherwise(0L)).as("bytes_out"))
        .select(col("n_docs"), col("n_kept_docs"), col("n_dropped_docs"),
          col("bytes_in"), col("bytes_out"),
          (col("bytes_in") - col("bytes_out")).as("bytes_saved"))
    }),
    "q_media_fp" -> ((s, dir) => {
      // content fingerprints through ALL THREE decode boundaries:
      // image aHash / audio energy-contour hash / video first+last
      // frame hashes — pure integer arithmetic over decoded data,
      // every hex digit oracle-pinned, decoded=1 pins no stub fallback.
      // Round 17: every 5th doc (%5==2) ships as a planted JPEG — the
      // q_image_hash treatment — with the %10==7 half PROGRESSIVE
      // (SOF2, DC first + refine), so the fingerprint family also
      // pins both entropy layouts (a stub fallback would flip decoded
      // AND break the quadrant hash).
      implicit val sp: SparkSession = s
      import s.implicits._
      val plain = Multimodal.mixedCorpus(
        documents(s, dir).filter(col("doc_id") % 5 =!= 2))
      val planted = documents(s, dir).filter(col("doc_id") % 5 === 2)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = (text + ".").getBytes("UTF-8")
          val dcs = Array.tabulate(4)(t =>
            (((b(t % b.length) & 0xFF) + 13 * t) % 255) - 128)
          val bytes =
            if (id % 10 == 7)
              graft.multimodal.Jpeg.dcOnlyGrayProgressive(16, 16, dcs)
            else graft.multimodal.Jpeg.dcOnlyGray(16, 16, dcs)
          graft.multimodal.MediaSample(id, "image", bytes, 16, 16, 0, 0)
        }
      Multimodal.mediaFingerprints(plain.unionByName(planted))
        .select(col("sample_id"), col("modality"),
          col("decoded").cast("int").as("decoded"), col("fingerprint"))
        .orderBy("sample_id")
    }),
    "q_image_hash" -> ((s, dir) => {
      // REAL decode path: aHash perceptual fingerprints from the
      // genuine 8x8-resized pixel grid — pure integer arithmetic,
      // every hex digit pinned by the oracle. Round 9 plants baseline
      // JPEGs on every 5th doc (%5==2): DC-only flat-tile streams whose
      // decoded pixels are v_t = (byte_t + 13t) mod 255 per 8x8 tile,
      // so the FULL JPEG decode chain (markers, canonical Huffman, DC
      // prediction, dequant, IDCT, level shift) feeds hashes the oracle
      // derives from the raw doc bytes — decoded=1 pins that no planted
      // row fell back to the md5 stub. Round 15: every other planted
      // row (%10==7) ships as PROGRESSIVE (SOF2, DC first + refine
      // successive approximation) with the SAME tile values — one
      // oracle covers both entropy layouts, and decoded=1 pins that
      // the progressive path really decodes (a stub fallback would
      // flip decoded AND break the hash).
      implicit val sp: SparkSession = s
      import s.implicits._
      val plain = Multimodal.syntheticCorpus(
          documents(s, dir).filter(col("doc_id") % 5 =!= 2))
        .as[graft.multimodal.MediaSample]
      val planted = documents(s, dir).filter(col("doc_id") % 5 === 2)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = (text + ".").getBytes("UTF-8")
          val dcs = Array.tabulate(4)(t =>
            (((b(t % b.length) & 0xFF) + 13 * t) % 255) - 128)
          val bytes =
            if (id % 10 == 7)
              graft.multimodal.Jpeg.dcOnlyGrayProgressive(16, 16, dcs)
            else graft.multimodal.Jpeg.dcOnlyGray(16, 16, dcs)
          graft.multimodal.MediaSample(id, "image", bytes, 16, 16, 0, 0)
        }
      Multimodal.imageHashes(plain.unionByName(planted))
        .select(col("sample_id"), col("modality"),
          col("decoded").cast("int").as("decoded"), col("ahash"))
        .orderBy("sample_id")
    }),
    "q_resample" -> ((s, dir) => {
      // REAL audio decode path: the mixed corpus's WAV rows (16-bit
      // mono PCM, sample i = the doc's i-th cyclic byte) genuinely
      // rate-convert 8000 -> 4000 Hz through exact integer two-tap
      // interpolation; data_hex pins every resampled byte (the 44-byte
      // canonical header is pinned by n_bytes + the WavSpec round trip)
      implicit val sp: SparkSession = s
      Multimodal.resampleAudio(
        Multimodal.mixedCorpus(documents(s, dir)).filter(_.modality == "audio"),
        targetRate = 4000).toDF()
        .select(col("sample_id"), col("sample_rate"), col("duration_ms"),
          length(col("content")).as("n_bytes"),
          hex(expr("substring(content, 45)")).as("data_hex"))
        .orderBy("sample_id")
    }),
    "q_media_mixed" -> ((s, dir) => {
      // ALL FOUR decode boundaries end-to-end: the mixed corpus rows
      // are genuine P6 / RIFF-WAVE PCM / YUV4MPEG2 content, and every
      // 7th doc (%7==3) is replaced by an ENCODED baseline JPEG
      // (round 10) — gray DC-only flat tiles on even ids, 4:2:0 COLOR
      // DC-only on odd ids, so the full decode chain (markers,
      // canonical Huffman, DC prediction, dequant, IDCT, level shift,
      // chroma upsample, BT.601) feeds the frame sampler with pixels
      // the oracle derives from the raw doc bytes (the lossy-codec
      // oracle strategy: DC-only content keeps pixels SQL-derivable).
      // `decoded` pins that no row fell back to the stub, frame_hex
      // pins every byte.
      implicit val sp: SparkSession = s
      import s.implicits._
      val plain = Multimodal.mixedCorpus(
        documents(s, dir).filter(col("doc_id") % 7 =!= 3))
      val planted = documents(s, dir).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").cast("long"), col("text").cast("string"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val b = (text + ".").getBytes("UTF-8")
          def u(i: Int): Int = b(i % b.length) & 0xFF
          val content =
            if (id % 2 == 0)
              graft.multimodal.Jpeg.dcOnlyGray(16, 16,
                Array.tabulate(4)(t => (u(t) + 13 * t) % 255 - 128))
            else
              graft.multimodal.Jpeg.dcOnlyColor420(16, 16,
                Array.tabulate(4)(k => (u(k) + 17 * k) % 255 - 128),
                Array(u(4) % 255 - 128), Array(u(5) % 255 - 128))
          graft.multimodal.MediaSample(id, "image", content, 16, 16, 0, 0)
        }
      Multimodal.sampleFrames(plain.unionByName(planted), n = 2,
          frameBytes = 16)
        .toDF()
        .select(col("sample_id"), col("modality"), col("frame_idx"),
          col("decoded").cast("int").as("decoded"),
          hex(col("frame")).as("frame_hex"))
        .orderBy("sample_id", "frame_idx")
    }),
    "q_contamination" -> ((s, dir) => {
      // benchmark = every 10th doc; train = the rest. n=3 so the
      // synthetic word-soup corpus produces non-trivial overlap. Both
      // sides slice the SHARED persisted shingle-set table (same cache
      // the jaccard/minhash/cluster queries hit).
      val sets = docShingleSets(s, dir, n = 3)
      Decontaminate.contaminationFromSets(
        sets.filter(col("__id") % 10 =!= 0), sets.filter(col("__id") % 10 === 0),
        threshold = 0.1)
        .orderBy("doc_id")
    }),
    "q_chunk_dedup" -> ((s, dir) =>
      // corpus-wide exact chunk dedup (k=3): a duplicated 3-token span
      // survives only at its first (doc_id, chunk_idx) occurrence and
      // every document is rebuilt from its surviving spans
      Rewrite.chunkDedup(documents(s, dir), k = 3).orderBy("doc_id")),
    "q_boilerplate" -> ((s, dir) =>
      // spans occurring in >4 distinct docs are dropped everywhere
      Rewrite.stripBoilerplate(documents(s, dir), k = 3, maxDf = 4)
        .orderBy("doc_id")),
    "q_span_dedup" -> ((s, dir) =>
      // alignment-free exact-substring dedup (k=5): every token inside
      // a duplicated >=5-token span is removed except at the span's
      // first corpus occurrence — catches duplicates chunkDedup's
      // non-overlapping grid misses (stride-1 shingle keeper pass)
      Rewrite.spanDedup(documents(s, dir), k = 5).orderBy("doc_id")),
    "q_hash_split" -> ((s, dir) =>
      CorpusOps.hashSplit(documents(s, dir))
        .select("doc_id", "bucket", "split").orderBy("doc_id")),
    "q_gopher_rules" -> ((s, dir) =>
      TextStats.gopherRules(documents(s, dir)).orderBy("doc_id")),
    "q_curate" -> ((s, dir) => {
      // full curation verdict over the corpus, decontaminating against
      // the synthetic benchmark suite (every 10th doc — which therefore
      // flags itself contaminated and drops out, the intended
      // remove-benchmark-members-from-corpus semantics). Shares the
      // persisted shingle sets AND pair graph with the dedup queries.
      val d = documents(s, dir)
      graft.text.Curate.curateVerdicts(
        d, d.filter(col("doc_id") % 10 === 0),
        sets = Some(docShingleSets(s, dir, n = 3)),
        pairs = Some(docJaccardPairs(s, dir, n = 3, minJaccard = 0.3,
          maxDf = 100)))
        .orderBy("doc_id")
    }),
    "q_pack_seqs" -> ((s, dir) =>
      CorpusOps.packSequences(documents(s, dir), seqLen = 512)
        .orderBy("doc_id")),
    "q_url_canon" -> ((s, dir) =>
      // URL canonicalization pinned end-to-end: each doc's crawl URL
      // is assembled in its messiest legal form (scheme/host case,
      // default port, dot segments, lowercase percent-escapes of
      // unreserved and reserved octets, fragment) and graft_url_canon
      // must reduce it to the normal form the oracle constructs
      // directly from the raw columns — so scheme/host folding,
      // port stripping, §5.2.4 dot-segment removal, §6.2.2 percent
      // normalization, and fragment dropping are all value-pinned
      documents(s, dir).select(col("doc_id"),
        TextOps.canonicalizeUrl(concat(
          lit("HTTP://Crawl.Example.COM:80/"), col("source"),
          lit("/x/../"), col("doc_id").cast("string"),
          lit("/./%41sset-%7ev?q=%20raw&u=%7e#sec-"),
          col("doc_id").cast("string"))).as("url"))
        .orderBy("doc_id")),
    "q_merge_corpus" -> ((s, dir) => {
      // corpus MERGE (upsert + tombstones): a synthetic refresh batch
      // carries re-fetches (+5 ts, win), stale re-fetches (-5 ts,
      // lose), deletion tombstones (+7 ts, drop the id), and brand-new
      // ids; latest (ts, side) wins via one map-side-combinable
      // struct-max — never a row_number window — and the oracle
      // replays the same total order with a window formulation
      val d = documents(s, dir).select("doc_id", "text")
      val current = d.withColumn("ts", col("doc_id") * 10)
      val refetch = d.filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), (col("doc_id") * 10 + 5).as("ts"),
          concat(lit("v2 "), col("text")).as("text"), lit(false).as("deleted"))
      val stale = d.filter(col("doc_id") % 6 === 1)
        .select(col("doc_id"), (col("doc_id") * 10 - 5).as("ts"),
          concat(lit("old "), col("text")).as("text"), lit(false).as("deleted"))
      val dels = d.filter(col("doc_id") % 10 === 2)
        .select(col("doc_id"), (col("doc_id") * 10 + 7).as("ts"),
          lit("").as("text"), lit(true).as("deleted"))
      val news = d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 100000).as("doc_id"),
          (col("doc_id") * 10).as("ts"), col("text"), lit(false).as("deleted"))
      CorpusOps.mergeCorpus(current,
          refetch.unionByName(stale).unionByName(dels).unionByName(news))
        .orderBy("doc_id")
    }),
    "q_sessions" -> ((s, dir) =>
      // batch sessionization of the event stream (30-min gap cuts):
      // the offline twin of the streaming sessionize operator — key
      // semantics replay-pinned against it in StreamingSpec; totals on
      // the exact cents grid so the double sums are order-independent
      graft.streaming.Streaming.batchSessionize(events(s, dir),
          gapSeconds = 1800)
        .orderBy("user_id", "session_start")),
    "q_suffix_rank" -> ((s, dir) =>
      // suffix ranks DERIVED from the shared full-corpus SA artifact
      // (round 15 — the build-once/fan-out lifecycle; the standalone
      // prefix-doubling suffixRanks stays spec-pinned equal): tie runs
      // collapse where lcp_prev covers both remaining suffixes, every
      // member takes the run head's seq. Oracle replays the global
      // order as rank() over the materialized suffix strings
      // (space-joined tokens: every token char sorts above 0x20, so
      // string order == sequence order)
      graft.operators.SuffixRank.ranksFromSa(
        DocQueries.fullSa(s, dir),
        documents(s, dir).select("doc_id", "text"))),
    "q_in_transit" -> ((s, dir) => {
      // generic point-in-interval RANGE JOIN via bucket expansion
      // (operators/RangeJoin.scala, round 13): per ship-date, how many
      // lineitems are in transit (shipdate <= d <= receiptdate) — an
      // EQUI-join on weekly buckets + residual filter, never the
      // quadratic BroadcastNestedLoopJoin an inequality join plans to
      // the testdata lineitem carries no receiptdate; the transit span
      // is a deterministic 1..21-day function of the line identity,
      // replayed identically by the oracle
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val intervals = li.select(lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      val points = li.select(lo.as("d")).distinct()
      graft.operators.RangeJoin.pointInInterval(points, intervals,
          "d", "lo", "hi", bucketWidth = 7)
        .groupBy("d").agg(count(lit(1)).as("n_in_transit"))
        .orderBy("d")
    }),
    "q_in_transit_sweep" -> ((s, dir) => {
      // the SWEEP-LINE twin of q_in_transit (same oracle SQL, same
      // values): two delta events per interval -> distinct-date
      // histogram -> two-level prefix sum -> bounded as-of read; no
      // point x interval pair table at all — the bench pair measures
      // the join-vs-sweep gap at identical semantics
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val intervals = li.select(lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      val points = li.select(lo.as("d")).distinct()
      graft.operators.RangeJoin.stabbingCounts(points, intervals,
          "d", "lo", "hi")
        .withColumnRenamed("n_covering", "n_in_transit")
        .orderBy("d")
    }),
    "q_in_transit_bcast" -> ((s, dir) => {
      // the SPINE-BROADCAST twin of q_in_transit (same oracle SQL,
      // same values): the ~2.5k-date point spine is collected, sorted
      // and broadcast; the 600k-interval side is scanned ONCE and each
      // row binary-searches its covered dates — no expansion shuffle,
      // no bucket join. The bench triple (expand/sweep/bcast) measures
      // all three range-join spellings at identical semantics
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val intervals = li.select(lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      val points = li.select(lo.as("d")).distinct()
      graft.operators.RangeJoin.pointInIntervalBroadcast(points, intervals,
          "d", "lo", "hi")
        .groupBy("d").agg(count(lit(1)).as("n_in_transit"))
        .orderBy("d")
    }),
    "q_overlap_sweep" -> ((s, dir) => {
      // the PAIR-FREE twin of q_overlap_join: per supplier, overlapping
      // ROW pairs = C(n,2) minus the separated pairs counted by one
      // per-key event sweep — zero pair materialization, O(n log n)
      // per hot key instead of O(n^2). Row-pair semantics (the oracle
      // mints a unique rid; q_overlap_join's synthetic lid is not
      // unique in the testdata, so its counts differ on dup-lid rows)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val base = li.select(col("l_suppkey"),
        lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      graft.operators.RangeJoin.overlapPairCounts(base, "lo", "hi",
          equiKeys = Seq("l_suppkey"))
        .orderBy("l_suppkey")
    }),
    "q_overlap_join" -> ((s, dir) => {
      // INTERVAL-overlap join via the same bucket expansion (round
      // 13): per supplier, how many of its line pairs were in transit
      // simultaneously — pairs attributed to the overlap-START bucket
      // (no distinct), the per-key cell carve bounding the graph
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val base = li.select(col("l_suppkey"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
        lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      val a = base.select(col("l_suppkey"), col("lid").as("lid_a"),
        col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = base.select(col("l_suppkey"), col("lid").as("lid_b"),
        col("lo").as("lo_b"), col("hi").as("hi_b"))
      graft.operators.RangeJoin.intervalOverlap(a, b,
          "lo_a", "hi_a", "lo_b", "hi_b", bucketWidth = 7,
          equiKeys = Seq("l_suppkey"))
        .filter(col("lid_a") < col("lid_b"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_overlaps"))
        .orderBy("l_suppkey")
    }),
    "q_overlap_bcast" -> ((s, dir) => {
      // the BROADCAST twin of q_overlap_join (round 15): identical
      // pair semantics and oracle, but the right side rides a per-key
      // max-hi interval-tree broadcast and the left is scanned once in
      // place — no double-sided bucket expansion, no shuffle, no
      // bucketWidth to tune (the PointsInRangeBcast pattern lifted
      // from points to intervals)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
      val base = li.select(col("l_suppkey"),
        (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
        lo.as("lo"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(21L)))
          .as("hi"))
      val a = base.select(col("l_suppkey"), col("lid").as("lid_a"),
        col("lo").as("lo_a"), col("hi").as("hi_a"))
      val b = base.select(col("l_suppkey"), col("lid").as("lid_b"),
        col("lo").as("lo_b"), col("hi").as("hi_b"))
      graft.operators.RangeJoin.intervalOverlapBroadcast(a, b,
          "lo_a", "hi_a", "lo_b", "hi_b", equiKeys = Seq("l_suppkey"))
        .filter(col("lid_a") < col("lid_b"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_overlaps"))
        .orderBy("l_suppkey")
    }),
    "q_overlap_win" -> ((s, dir) => {
      // the ASYMMETRIC overlap shape (round 15): 600k LONG-HAUL
      // transit intervals (60-240 days — the fat-interval regime where
      // bucket expansion replicates hardest) vs 3 synthetic audit
      // windows per supplier — the
      // workload the broadcast variant exists for. This is the
      // EXPANSION baseline: both sides replicate into buckets and the
      // big side shuffles just to meet a window set that fits in one
      // broadcast block (see q_overlap_win_bcast, identical oracle)
      val (a, w) = DocQueries.overlapWinFrames(s, dir)
      graft.operators.RangeJoin.intervalOverlap(a, w,
          "lo_a", "hi_a", "lo_b", "hi_b", bucketWidth = 128,
          equiKeys = Seq("l_suppkey"))
        .groupBy("l_suppkey", "wid")
        .agg(count(lit(1)).as("n_lines"), sum("lid").as("sum_lid"))
        .orderBy("l_suppkey", "wid")
    }),
    "q_overlap_win_bcast" -> ((s, dir) => {
      // broadcast twin of q_overlap_win: the window side rides the
      // per-key interval-tree broadcast, the 600k transit side is
      // scanned once in place — no expansion, no shuffle of the big
      // side, the bench pair quantifies the gap
      val (a, w) = DocQueries.overlapWinFrames(s, dir)
      graft.operators.RangeJoin.intervalOverlapBroadcast(a, w,
          "lo_a", "hi_a", "lo_b", "hi_b", equiKeys = Seq("l_suppkey"))
        .groupBy("l_suppkey", "wid")
        .agg(count(lit(1)).as("n_lines"), sum("lid").as("sum_lid"))
        .orderBy("l_suppkey", "wid")
    }),
    "q_suffix_lcp" -> ((s, dir) =>
      // suffix array + LCP (round 13, the Lee et al. exact
      // substring-dedup structure): the doubling chain retains every
      // level and the sparse-table descent extends the common prefix
      // by 2^k wherever level-k ranks agree; oracle = lag over the
      // materialized suffix strings + first-mismatch scan
      DocQueries.fullSa(s, dir).orderBy("doc_id", "pos")),
    "q_repeat_marks" -> ((s, dir) => {
      // the Lee et al. repeat surface off the LCP column (round 13;
      // full corpus since round 15 — the whole documents table carries
      // 1000+ organic repeated 8-windows at sf0.01, so no planted
      // mirrors are needed for polarity); oracle = direct group count
      // on the materialized 8-token windows
      graft.operators.SuffixRank.repeatMarksFromSa(DocQueries.fullSa(s, dir),
        minLen = 8)
    }),
    "q_phrase_search" -> ((s, dir) =>
      // exact phrase occurrences over the positional postings index
      // (round 14): candidate starts anchor on the RAREST phrase
      // term's postings, every other (term, offset) slot verified by a
      // left-semi equi-join on (doc_id, start) — only the three terms'
      // postings are ever touched; oracle = direct window predicate
      // over the materialized token arrays
      graft.text.Search.phraseSearch(documents(s, dir),
          Seq("table", "key", "agg"))
        .orderBy("doc_id", "start")),
    "q_phrase_batch" -> ((s, dir) =>
      // the one-pass phrase SET walk (round 14, the decontamination
      // shape): slots broadcast against the union of phrase terms'
      // postings, one join + one count regardless of phrase count;
      // oracle = UNION ALL of per-phrase window predicates
      graft.text.Search.phraseOccurrencesBatch(
          graft.text.Search.buildPositionalIndex(documents(s, dir)),
          Seq(Seq("table", "key", "agg"), Seq("value", "table"),
            Seq("query", "value")))
        .orderBy("phrase_id", "doc_id", "start")),
    "q_phrase_set" -> ((s, dir) =>
      // stateless PHRASE-SET gate (round 15): the whole set rides one
      // broadcast kernel pass per row (PhraseSetHitsBcast) — docs x
      // phrases verdict rows, zero-hit pairs included, an absent
      // phrase pinning the all-zero column; runs unchanged on a
      // stream (streamingPhraseSetGate, replay-pinned)
      graft.text.Search.phraseSetGate(documents(s, dir),
          Seq(Seq("table", "key", "agg"), Seq("value", "table"),
            Seq("query", "value"), Seq("zzz", "qqq")))
        .orderBy("doc_id", "phrase_id")),
    "q_blocklist" -> ((s, dir) =>
      // CHARACTER-level blocklist gate (round 17): the whole needle
      // set rides one broadcast Aho–Corasick pass per row
      // (AcScanBcast) — docs x patterns verdict rows, zero-hit pairs
      // included. The set exercises the automaton's corners: nested
      // needles ("ta"/"le" inside "table"), self-overlap ("a a" twice
      // in "a a a"), a cross-word span ("scan s"), a long multiword,
      // and one absent needle pinning the all-zero column; runs
      // unchanged on a stream (streamingBlocklistGate, replay-pinned)
      graft.text.Blocklist.blocklistGate(documents(s, dir),
          Seq("table", "ta", "a a", "scan s", "value table part",
            "agg", "zzqx", " the ", "batch", "le"))
        .orderBy("doc_id", "pattern_id")),
    "q_blocklist_clean" -> ((s, dir) =>
      // the per-document keep/drop card off the same one-pass scan:
      // total hits, distinct patterns present, clean verdict — the
      // aggregate folds inside the projection (stream-safe)
      graft.text.Blocklist.blocklistVerdicts(documents(s, dir),
          Seq("table", "ta", "a a", "scan s", "value table part",
            "agg", "zzqx", " the ", "batch", "le"))
        .orderBy("doc_id")),
    "q_blocklist_table" -> ((s, dir) => {
      // the operational shape: needles read from a pattern TABLE
      // (sorted-distinct collect bounded by the maxPatterns
      // fail-fast); needle set = each sub-8 doc's leading 8 chars,
      // so hits genuinely recur across the corpus
      val pats = documents(s, dir).filter(col("doc_id") < 8)
        .select(substring(col("text"), 1, 8).as("pattern"))
      graft.text.Blocklist.blocklistGateFrom(documents(s, dir), pats)
        .orderBy("doc_id", "pattern_id")
    }),
    "q_redact" -> ((s, dir) =>
      // REDACTION through the same one-pass automaton: every
      // codepoint covered by ANY needle match becomes one '*'
      // (union-of-spans masking — nested "ta"/"le" inside "table"
      // and the self-overlapping "a a" scrub cleanly), with the
      // masked-codepoint count coming out of the kernel itself
      graft.text.Blocklist.redactDocs(documents(s, dir),
          Seq("table", "ta", "a a", "scan s", "value table part",
            "agg", "zzqx", " the ", "batch", "le"))
        .orderBy("doc_id")),
    "q_canon_dedup" -> ((s, dir) => {
      // WHY canonicalization precedes content hashes: every 7th doc
      // gets an alias'd twin (its text with "table" already rewritten
      // to "tbl", id-shifted) — raw texts differ, canonical forms
      // collapse, so the exact-dedup group of each twin pair is ONE
      // keeper. canon -> groupBy(canonical) is the composite shape.
      // The dictionary carries OVERLAPPING needles (round 13: "ta" a
      // prefix of "table", "le" its suffix), so the composite itself
      // exercises the leftmost-longest walk — at every "table" start
      // the longest needle must win or the twins fail to collapse; a
      // fold of per-needle replaces would break the equality. Twins
      // still collapse, PROVABLY: "table" starts can never be
      // consumed by a "ta"/"le" match beginning earlier (both would
      // need the 't' to be a different character), and every
      // replacement string is chosen UPPERCASE-bearing so no
      // replacement can mint a lowercase needle across its boundary
      // (a lowercase "tbl" would: "table"+"e" -> twin "tble", whose
      // fresh "le" canonicalizes differently than the original).
      val dict = Seq("table" -> "TBL", "ta" -> "tX", "le" -> "lY")
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val aliased = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "table", "TBL").as("text"))
      val canon = graft.text.Blocklist.canonicalizeDocs(
        d.unionByName(aliased), dict)
      canon.groupBy("canonical")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
        .select("keep_id", "n_docs")
        .orderBy("keep_id")
    }),
    "q_canon_table" -> ((s, dir) => {
      // dictionary from a MAPPING TABLE (the governed-table shape):
      // each sub-8 doc's 6-char prefix maps to its uppercased 3-char
      // prefix; bounded sorted-distinct collect, then the same
      // one-pass leftmost-longest walk
      val maps = documents(s, dir).filter(col("doc_id") < 8)
        .select(substring(col("text"), 1, 6).as("pattern"),
          upper(substring(col("text"), 1, 3)).as("replacement"))
      graft.text.Blocklist.canonicalizeDocsFrom(documents(s, dir), maps)
        .orderBy("doc_id")
    }),
    "q_blocklist_spans" -> ((s, dir) =>
      // the forensic face: every (doc, pattern, start) occurrence as
      // a 0-based codepoint offset — overlapping and nested spans all
      // reported; same one-pass kernel, plus only a generator
      graft.text.Blocklist.blocklistSpans(documents(s, dir),
          Seq("table", "ta", "a a", "scan s", "zzqx"))
        .orderBy("doc_id", "start", "pattern_id")),
    "q_canon" -> ((s, dir) =>
      // leftmost-longest dictionary canonicalization in one pass:
      // nested needles ("tab" loses to "table" wherever both start),
      // self-overlap consumption ("a a a" -> "aa a": the first match
      // eats its span, the scan resumes after it), deletion (empty
      // replacement), and a longer-than-needle replacement
      graft.text.Blocklist.canonicalizeDocs(documents(s, dir),
          Seq("table" -> "tbl", "tab" -> "T", "a a" -> "aa",
            "value" -> "", " the " -> " exactly the ",
            "zzqx" -> "never"))
        .orderBy("doc_id")),
    "q_decontam_exact" -> ((s, dir) => {
      // CHARACTER-level exact decontamination: each sub-10 doc's FULL
      // text is a needle (the pattern-table face, bounded collect),
      // swept against the whole corpus in ONE automaton pass — the
      // raw-substring complement of q_decontam's token-phrase walk
      // (catches eval text embedded mid-word or across token edits)
      val evalPats = documents(s, dir).filter(col("doc_id") < 10)
        .select(col("text").as("pattern"))
      graft.text.Blocklist.blocklistGateFrom(documents(s, dir), evalPats)
        .groupBy("doc_id")
        .agg(sum(col("n_hits")).as("n_eval_hits"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_eval_needles"))
        .withColumn("contaminated", col("n_eval_hits") > 0)
        .orderBy("doc_id")
    }),
    "q_redact_report" -> ((s, dir) => {
      // the mask-then-re-admit curation pass as ONE card: scrub the
      // corpus, RE-GATE the scrubbed text against the same needle
      // set (n_rehits is computed, not assumed — masking can never
      // mint a new needle match since needles never contain the mask
      // char), and report volume/scrub-share on the 1e-6 grid
      val pats = Seq("table", "ta", "a a", "scan s", "value table part",
        "agg", "zzqx", " the ", "batch", "le")
      val red = graft.text.Blocklist.redactDocs(documents(s, dir), pats)
      val reGate = graft.text.Blocklist.blocklistVerdicts(
        red.select(col("doc_id"), col("redacted").as("text")), pats)
      val totals = red.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_masked") > 0, 1L).otherwise(0L))
          .as("n_docs_scrubbed"),
        sum(length(col("redacted")).cast("long")).as("n_chars"),
        sum(col("n_masked")).as("n_masked_total"))
      val rh = reGate.agg(
        coalesce(sum(col("n_hits")), lit(0L)).as("n_rehits"))
      totals.crossJoin(broadcast(rh))
        .select(col("n_docs"), col("n_docs_scrubbed"), col("n_chars"),
          col("n_masked_total"),
          // n_chars = 0 guard (advice r12): on an all-empty corpus
          // Spark's div yields NULL while DuckDB's // raises — both
          // twins pin the share to 0 so degenerate corpora agree
          when(col("n_chars") === 0L, lit(0L)).otherwise(
            expr("(2 * n_masked_total * 1000000 + n_chars) div (2 * n_chars)"))
            .as("masked_share_micro"),
          col("n_rehits"))
    }),
    "q_redact_ci" -> ((s, dir) =>
      // case-folded redaction: the scrub runs ON the normalized text
      // (normalize changes offsets, so masking the original through
      // normalized matches would tear spans — the contract is
      // normalize -> redact, output in normal form)
      graft.text.Blocklist.redactDocs(
          documents(s, dir).select(col("doc_id"),
            TextOps.normalizeText(concat(
              upper(substring(col("text"), 1, 40)),
              expr("substr(text, 41)"))).as("text")),
          Seq("table", "a a", "agg", "zzqx"))
        .orderBy("doc_id")),
    "q_blocklist_rx" -> ((s, dir) =>
      // REGEX-class needles (round 13): the anchor-prefiltered scan —
      // one AC pass over the literal anchors ("ta"/"ble"/"ch"/"-"),
      // bounded greedy verifies only on anchor neighborhoods; clean
      // docs never touch the regex engine. All-starts semantics (a
      // match reported at every position the regex matches — the
      // literal family's occurrence rule), so the oracle replays it
      // per-position with regexp_extract. The set exercises a
      // zero-gap prefix anchor, a bounded-prefix suffix anchor
      // (greedy backtracking: "[a-z]{1,24}ble" — the bound makes the
      // declared gap a theorem, advice r13), a counted quantifier,
      // and an absent digit shape pinning the all-zero column
      graft.text.Blocklist.rxGate(documents(s, dir), RxNeedleSet)
        .orderBy("doc_id", "pattern_id")),
    "q_rx_spans" -> ((s, dir) =>
      // the forensic face of the regex arm: every (doc, pattern,
      // start, len) occurrence at codepoint offsets, greedy lengths
      graft.text.Blocklist.rxSpans(documents(s, dir), RxNeedleSet)
        .orderBy("doc_id", "start", "pattern_id")),
    "q_redact_rx" -> ((s, dir) =>
      // regex redaction: union of ALL greedy match spans masked (the
      // q_redact semantic lifted to shapes) — overlapping all-start
      // matches of "[a-z]{1,24}ble" and "ta[a-z]+" scrub cleanly
      graft.text.Blocklist.rxRedact(documents(s, dir), RxNeedleSet)
        .orderBy("doc_id")),
    "q_canon_rx" -> ((s, dir) =>
      // regex canonicalization (round 18): the sequential per-rule
      // fold — rule 2's anchor "T" does NOT occur in the lowercase
      // corpus but IS minted by rule 0's replacement, so the query
      // pins the fold's minted-anchor correctness (the prefilter only
      // skips work on clean docs, never changes results); rule 3's
      // digit shape is absent everywhere
      graft.text.Blocklist.rxCanonicalize(documents(s, dir), Seq(
          ("ta[a-z]+", "ta", "T1"),
          ("b[a-z]{2}ch", "ch", "B"),
          ("T[0-9]", "T", "NUM"),
          ("[0-9]{3}-[0-9]{2}", "-", "<ID>")))
        .orderBy("doc_id")),
    "q_rx_prov" -> ((s, dir) =>
      // regex provenance: per (source, pattern) document counts, hit
      // documents, total match positions — the "which source carries
      // the key leak" card on the regex arm; one kernel projection +
      // one small map-side-combinable aggregate
      graft.text.Blocklist.rxProvenance(documents(s, dir), RxNeedleSet)
        .orderBy("source", "pattern_id")),
    "q_scrub_prov" -> ((s, dir) => {
      // provenance rollup of the SCRUB STACK (round 14): per source
      // the doc count, docs hit by each family, canon/redaction
      // volumes, clean count — the operational "which source needs
      // scrubbing" card over the same composed stages, every
      // aggregate replayed off the shared oracle chain
      val dict = Seq("table" -> "TBL", "ta" -> "tX", "le" -> "lY")
      val lits = Seq("TBL", "tX", "a a", "table", "agg", "zzqx")
      graft.text.Blocklist.scrubProvenance(documents(s, dir), dict,
          lits, ScrubRxNeedles)
        .orderBy("source")
    }),
    "q_scrub_stack" -> ((s, dir) => {
      // THE SCRUB STACK (round 14, VERDICT r13 #7): canonicalize →
      // gate (literal AC family + regex arm) → redact (literal then
      // regex) composed over ONE corpus into one verdict card per
      // document, as the first-class Blocklist.scrubStack operator —
      // one chain of pure projections (the rx per-doc counts fold
      // over the spans array; nothing shuffles), so the identical
      // card runs on a stream. The composition SEAMS are the point
      // and each is oracle-pinned:
      //  - the gates run on the CANONICAL text, so the dictionary's
      //    replacements mint needles ("TBL"/"tX" exist only
      //    post-canon) and destroy others ("table" can never survive
      //    the leftmost-longest walk — its all-zero gate column pins
      //    that);
      //  - the regex redaction runs on the LITERAL-redacted text
      //    (masked '*' runs can break regex shapes mid-match), so
      //    stage order is load-bearing, exactly as in production
      //    scrub pipelines.
      val dict = Seq("table" -> "TBL", "ta" -> "tX", "le" -> "lY")
      val lits = Seq("TBL", "tX", "a a", "table", "agg", "zzqx")
      graft.text.Blocklist.scrubStack(documents(s, dir), dict, lits,
          ScrubRxNeedles)
        .select(col("doc_id"), col("n_canon"), col("n_lit_hits"),
          col("n_lit_patterns"), col("n_rx_hits"), col("n_rx_patterns"),
          col("n_masked_lit"), col("n_masked_rx"), col("clean"),
          (TextOps.hash56(concat_ws(":", lit("scrub"), col("doc_id"),
            col("scrubbed"))) % 1000003L).as("scrub_sig"))
        .orderBy("doc_id")
    }),
    "q_blocklist_prov" -> ((s, dir) =>
      // provenance report: per (source, pattern) document counts,
      // hit-document counts, and total occurrences — the "which
      // source carries the canary" card; one kernel projection + one
      // 200-group map-side-combinable aggregate
      graft.text.Blocklist.provenanceReport(documents(s, dir),
          Seq("table", "ta", "a a", "scan s", "value table part",
            "agg", "zzqx", " the ", "batch", "le"))
        .orderBy("source", "pattern_id")),
    "q_blocklist_ci" -> ((s, dir) =>
      // CASE-INSENSITIVE arm: normalize -> scan composition (the
      // graft_textnorm kernel feeds the AC kernel in one projection).
      // The text is roughed up with an uppercased 40-char prefix so
      // the case fold is load-bearing: without it every prefix
      // needle match disappears
      graft.text.Blocklist.blocklistGate(
          documents(s, dir).select(col("doc_id"),
            TextOps.normalizeText(concat(
              upper(substring(col("text"), 1, 40)),
              expr("substr(text, 41)"))).as("text")),
          Seq("table", "a a", "agg", "zzqx"))
        .orderBy("doc_id", "pattern_id")),
    "q_decontam" -> ((s, dir) => {
      // decontamination composite through the batch walk (round 15):
      // the eval set = each sub-10 doc's leading 6-gram, ALL probed in
      // one phraseOccurrencesBatch pass (one join + one count for the
      // whole set), verdicts joined back onto every corpus document
      val evalPhrases = documents(s, dir).filter(col("doc_id") < 10)
        .select(col("doc_id"),
          slice(graft.text.TextOps.tokens(col("text")), 1, 6).as("__p"))
        .orderBy("doc_id").collect()
        .map(_.getSeq[String](1).toSeq).filter(_.nonEmpty).toSeq
      graft.text.Search.decontaminationVerdicts(
          documents(s, dir).select("doc_id", "text"), evalPhrases)
        .orderBy("doc_id")
    }),
    "q_phrase_gate" -> ((s, dir) =>
      // the stateless in-row spelling of the phrase walk (round 14):
      // per-document occurrence counts from one token-array HOF pass —
      // no index, no join; runs unchanged on a stream
      // (streamingPhraseGate, replay-pinned in StreamingSpec)
      graft.text.Search.phraseGate(documents(s, dir),
          Seq("table", "key", "agg"))
        .select(col("doc_id"),
          size(col("phrase_starts")).cast("long").as("n_hits"),
          col("has_phrase"))
        .orderBy("doc_id")),
    "q_span_cut_sa" -> ((s, dir) => {
      // the span-CUT composition of the repeat marks (round 14): the
      // Lee et al. exact substring dedup executed off the suffix
      // array — contiguous >= 8-lcp blocks are the duplicate classes,
      // min(doc,pos) keeps the first occurrence, every other member
      // cuts its 8 covered positions. Full corpus off the shared SA
      // artifact (round 15); the oracle replays the equivalent
      // stride-1 8-token shingle cut (RewriteSpec pins
      // spanDedup == spanDedupSA)
      Rewrite.spanDedupSAFromSa(DocQueries.fullSa(s, dir),
        documents(s, dir).select("doc_id", "text"),
        minLen = 8).orderBy("doc_id")
    }),
    "q_topk_agg" -> ((s, dir) => {
      // the AGGREGATE spelling of top-k-per-key (functions/
      // TopKPairsAgg, round 13): per event_type the 5 best events by
      // value (DESC, event_id ties ASC) from the bounded mergeable
      // O(k)-state buffer that also powers streamingTopKPerKey. The
      // retained set is a pure function of the input pair set, so the
      // oracle replays it as a rank window.
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("__ord"),
          col("event_id").cast("long").as("__id"))
      val agg = column(graft.functions.TopKPairsAgg(
        expression(col("__ord")), expression(col("__id")), 5)
        .toAggregateExpression())
      ev.groupBy("event_type").agg(agg.as("__top"))
        .select(col("event_type"), posexplode(col("__top")))
        .select(col("event_type"), (col("pos") + 1L).as("rank"),
          col("col.ord").as("value"), col("col.id").as("event_id"))
        .orderBy("event_type", "rank")
    }),
    "q_quantiles" -> ((s, dir) =>
      // exact deciles of a 600k-row double column without a global
      // sort: distinct-value histogram + two-level prefix sum + an
      // 11-rank broadcast pick; percentile_disc semantics (existing
      // values at integer ranks), so doubles compare bitwise
      graft.stats.Quantiles.exactQuantiles(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice", q = 10)),
    "q_sample_quantiles" -> ((s, dir) =>
      // the bounded-size quantile path (round 10): deciles of the
      // 2,000-row hash-order sample of l_extendedprice — the sample is
      // a deterministic simple random draw (smallest salted key
      // hashes), so re-runs, repartitions, and the oracle pick the
      // identical rows; DKW bounds the rank error independent of N
      graft.stats.Quantiles.sampleQuantiles(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice",
        q = 10, k = 2000, keyCols = Seq("l_orderkey", "l_linenumber"))),
    "q_bloom_semijoin" -> ((s, dir) => {
      // Bloom runtime filter ahead of a selective join: lineitem is
      // pre-filtered scan-locally through a Bloom of nation 3's
      // suppliers (~4% of keys) before the shuffle; the real join then
      // removes the false positives, so the composition must equal the
      // plain join bit-for-bit — which is exactly what this pins
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey"), col("l_quantity"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .filter(col("s_nationkey") === 3).select(col("s_suppkey"))
      val pre = Bloom.semiJoinPrefilter(li, "l_suppkey",
        sup, "s_suppkey", mBits = 16384, k = 3)
      pre.join(sup, pre("l_suppkey") === sup("s_suppkey"))
        .groupBy("l_suppkey")
        .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
        .orderBy("l_suppkey")
    }),
    "q_salted_join" -> ((s, dir) => {
      // shuffle-salted fact ⋈ dim (8 salts): the salt only re-shapes
      // the shuffle — the result must equal the plain join bit-for-bit
      // (here aggregated per nation so the dump stays small); the
      // skew-spread and (key, salt) plan shape are pinned in
      // SaltedJoinSpec
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_suppkey").as("suppkey"), col("l_quantity"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
      graft.operators.SaltedJoin.saltedJoin(li, sup, "suppkey", salts = 8)
        .groupBy("s_nationkey")
        .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    }),
    "q_salted_adaptive" -> ((s, dir) => {
      // SKETCH-DRIVEN salting (round 9): a planted hot key (~25% of the
      // fact side lands on supplier 1) gets its own salt range from one
      // Misra-Gries pass over the fact keys; the tail joins unsalted,
      // so the dim side replicates only for actual skew. The result is
      // exactly the plain join — the oracle is the same aggregation
      // over the unsalted join.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(when(col("l_orderkey") % 4 === 0, lit(1L))
          .otherwise(col("l_suppkey").cast("long")).as("suppkey"),
          col("l_quantity"))
      val sup = s.read.parquet(s"$dir/supplier.parquet")
        .select(col("s_suppkey").cast("long").as("suppkey"),
          col("s_nationkey"))
      graft.operators.SaltedJoin.adaptiveSaltedJoin(li, sup, "suppkey",
          maxSalts = 8, heavyFrac = 1.0 / 64)
        .groupBy("s_nationkey")
        .agg(sum("l_quantity").as("total_qty"), count(lit(1)).as("n"))
        .orderBy("s_nationkey")
    }),
    "q_bucketed_join" -> ((s, dir) => {
      // co-located documents ⋈ embeddings: both sides written bucketed
      // by the id (8 buckets, sorted), then joined with no Exchange on
      // either side — the layout pays the shuffle once at write time
      // (BucketingSpec pins the exchange-free plan; this query pins
      // that the bucketed write+read+join path loses no rows/values:
      // the oracle is the plain join over the raw tables)
      import graft.operators.Bucketing
      val tag = (dir.hashCode.toLong & 0xffffffffL).toHexString
      val base = new java.io.File(sys.props("java.io.tmpdir"), s"graft_bucketed_$tag")
      val docs = documents(s, dir).select("doc_id", "lang", "n_chars")
      val emb = embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("label"))
      Bucketing.writeBucketed(docs, s"graft_bdocs_$tag",
        new java.io.File(base, "docs").getAbsolutePath, "doc_id", nBuckets = 8)
      Bucketing.writeBucketed(emb, s"graft_bemb_$tag",
        new java.io.File(base, "emb").getAbsolutePath, "doc_id", nBuckets = 8)
      Bucketing.colocatedJoin(s, s"graft_bdocs_$tag", s"graft_bemb_$tag", "doc_id")
        .select("doc_id", "lang", "n_chars", "label").orderBy("doc_id")
    }),
    "q_epoch_shard" -> ((s, dir) =>
      // epoch-2 dataloader order: salted-hash global shuffle, 8
      // round-robin shards; the rank is a two-level prefix sum (hash
      // blocks), the oracle the plain one-window formulation —
      // identical by partitioning-independence
      CorpusOps.epochShard(documents(s, dir), epoch = 2, nShards = 8)
        .orderBy("doc_id")),
    "q_int8_quant" -> ((s, dir) =>
      Embeddings.int8Quantize(embeddings(s, dir)).orderBy("vec_id", "dim")),
    "q_sample_k" -> ((s, dir) =>
      CorpusOps.sampleKPerGroup(documents(s, dir), k = 25)
        .select("doc_id", "source", "pick_rank").orderBy("source", "pick_rank")),
    "q_hash_vec" -> ((s, dir) =>
      TextStats.hashVectorize(documents(s, dir), dim = 64)
        .orderBy("doc_id", "dim")),
    "q_pii" -> ((s, dir) => {
      // the corpus is clean word soup — plant deterministic PII on every
      // 7th doc so the operator has real work and a checkable answer
      val planted = documents(s, dir).withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"),
            lit("@example.com id 123-45-6789 call 555-867-5309")))
          .otherwise(col("text")))
      TextStats.redactPii(planted).orderBy("doc_id")
    }),
    "q_top_ngrams" -> ((s, dir) =>
      TextStats.topNgrams(documents(s, dir), n = 2, k = 100)),
    "q_centroids" -> ((s, dir) =>
      Embeddings.centroidsLong(embeddings(s, dir))
        .orderBy("group", "dim")),
    "q_leak_split" -> ((s, dir) =>
      // contamination-safe assignment: split keyed on the near-dup
      // cluster id (shares the memoized pair graph), so no duplicate
      // pair can straddle a train/test boundary
      CorpusOps.leakageSafeSplit(
        documents(s, dir).select("doc_id"),
        Dedup.duplicateClusters(
          docJaccardPairs(s, dir, n = 3, minJaccard = 0.3, maxDf = 100)
            .select("doc_a", "doc_b")))
        .select("doc_id", "split_key", "bucket", "split")
        .orderBy("doc_id")),
    "q_pmi" -> ((s, dir) =>
      // top-200 collocations by 1e-6-snapped PMI over a ±2 window,
      // pairs with fewer than 5 occurrences dropped
      graft.text.Collocations.pmiTopK(documents(s, dir),
        k = 200, window = 2, minCount = 5)),
    "q_dsir" -> ((s, dir) =>
      // DSIR importance resampling: the 100 docs whose unigram
      // distribution most resembles the lang='en' target subset,
      // by exact 1e-6-grid log-LM-ratio weights
      CorpusOps.dsirSample(
        documents(s, dir).withColumn("y", (col("lang") === "en").cast("long")),
        targetCol = "y", k = 100)),
    "q_quality_clf" -> ((s, dir) => {
      // trained quality classifier: 3 full-batch GD iterations of
      // hashed-feature logistic regression (exact integer margins,
      // 1e-6-snapped sigmoids — bitwise engine-reproducible), then
      // score + verdict for every document. Training actions run at
      // query build (bounded: one (dim+1)-row collect per iteration).
      val docs = documents(s, dir)
        .withColumn("y", (col("lang") === "en").cast("long"))
      Classifier.classify(docs, clfWeights(s, dir), dim = 64).orderBy("doc_id")
    }),
    "q_quality_clf_l2" -> ((s, dir) => {
      // the same classifier at training depth: 10 GD iterations with
      // L2 weight decay (lambda = 0.001) — the unrolled-CTE oracle
      // pattern is mechanical in depth, so the bitwise gate holds at
      // realistic iteration counts, not just the 3-step demo
      val docs = documents(s, dir)
        .withColumn("y", (col("lang") === "en").cast("long"))
      val w = Classifier.fit(docs, "y", dim = 64, iters = 10, lr = 0.5,
        l2 = 0.001)
      Classifier.classify(docs, w, dim = 64).orderBy("doc_id")
    }),
    "q_quality_clf_norm" -> ((s, dir) => {
      // LENGTH-NORMALIZED classifier (fastText mean pooling, round 10):
      // the hashed margin contribution averages over the doc's tokens
      // (bias unnormalized), so long documents no longer swamp the
      // gradient and the 0.5 operating threshold separates the classes
      // instead of collapsing to the majority vote (the
      // q_corpus_pipeline calibration note). Trained on a label with
      // actual signal IN the text — the fastText-quality pattern of
      // learning a heuristic's boundary: y = stopword density >= the
      // corpus median (integer-exact 1000*stops >= 61*ntok; the lang
      // column is label noise by construction — every token's class
      // ratio matches the prior). 92% accuracy, predictions ~49/51
      // across 0.5. Same bitwise discipline: one snap per doc-margin,
      // one per gradient contribution.
      Classifier.classifyNorm(documents(s, dir), clfNormWeights(s, dir),
        dim = 64).orderBy("doc_id")
    }),
    "q_quality_stack" -> ((s, dir) => {
      // the three quality FAMILIES every public pipeline composes —
      // rule-based (Gopher), trained classifier (fastText-style,
      // length-normalized), and reference LM perplexity (CCNet) — as
      // ONE verdict table (round 10; the composition-seam pin for the
      // quality half, the tear-sheet-composite precedent): admitted =
      // gopher pass AND classifier pass AND not the LM tail tercile.
      val docs = documents(s, dir)
      val gq = TextStats.gopherRules(docs)
        .select(col("doc_id"), col("quality_pass"))
      val clf = Classifier.classifyNorm(docs, clfNormWeights(s, dir),
          dim = 64)
        .select(col("doc_id"), col("predicted").as("clf_pass"))
      val lm = LmPerplexity.buckets(docs.filter(col("doc_id") % 3 === 0), docs)
        .select(col("doc_id"), col("bucket").as("lm_bucket"))
      gq.join(clf, "doc_id").join(lm, "doc_id")
        .withColumn("admitted",
          (col("quality_pass") === 1 && col("clf_pass") === 1 &&
            col("lm_bucket") =!= "tail").cast("int"))
        .orderBy("doc_id")
    }),
    "q_text_norm" -> ((s, dir) =>
      // Unicode normal form (round 10): each doc's text is roughed up
      // into a mixed-spelling multilingual form — uppercased ASCII
      // prefix, a precomposed Latin-1 accented capital chosen by the
      // id, and a DECOMPOSED vowel + combining acute (U+0301) — and
      // graft_textnorm must reduce it to the composed lowercase
      // normal form the oracle derives via nfc_normalize + lower.
      // Pins that both spelling families land on one key (the reason
      // normalization precedes every dedup/count hash).
      documents(s, dir).select(col("doc_id"),
        TextOps.normalizeText(concat(
          upper(substring(col("text"), 1, 16)), lit(" "),
          // Spark chr() wraps at 256 (chr(n % 256)), so the combining
          // acute U+0301 must be a literal; 192..214 are safe in both
          expr("chr(192 + doc_id % 23)"), lit(" "),
          expr("substr('AEIOU', cast(doc_id % 5 as int) + 1, 1)"),
          lit("\u0301"))).as("norm"))
        .orderBy("doc_id")),
    "q_corpus_report" -> ((s, dir) => {
      // ONE-ROW corpus report card (round 10): the summary a curation
      // run prints before anyone reads a tearsheet — volume (docs,
      // tokens, chars), diversity (sources, langs, top lang), exact
      // duplication rate, and the gopher quality pass rate. Rates are
      // exact half-away integer divisions onto the 1e-6 grid (the
      // unigramLogProb pattern), so the single row is engine-bitwise.
      val docs = documents(s, dir)
      val toks = TextOps.tokens(col("text"))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(toks).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("text")).as("n_distinct_texts"))
      val topLang = docs.groupBy("lang").agg(count(lit(1)).as("__lc"))
        .orderBy(col("__lc").desc, col("lang")).limit(1)
        .select(col("lang").as("top_lang"), col("__lc").as("top_lang_docs"))
      val gq = TextStats.gopherRules(docs)
        .agg(sum(when(col("quality_pass") === 1, 1L).otherwise(0L))
          .as("gopher_pass"))
      base.crossJoin(broadcast(topLang)).crossJoin(broadcast(gq))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("n_tokens"), col("n_chars"), col("n_distinct_texts"),
          expr("(2 * (n_docs - n_distinct_texts) * 1000000 + n_docs) div (2 * n_docs)")
            .as("dup_rate_micro"),
          col("top_lang"), col("top_lang_docs"), col("gopher_pass"),
          expr("(2 * gopher_pass * 1000000 + n_docs) div (2 * n_docs)")
            .as("gopher_rate_micro"))
    }),
    "q_class_tfidf" -> ((s, dir) =>
      // c-TF-IDF topic keywords per source class (round 10): the
      // BERTopic labeling formula with the one ln snapped at 1e-6 —
      // tf·round(1e6·ln(1 + A/f)) exact longs, per-class top-5 by
      // (score desc, token)
      TextStats.classTfidf(documents(s, dir), topK = 5)
        .orderBy("group", "rank")),
    "q_stratified_sample" -> ((s, dir) =>
      // exact Hamilton apportionment across sources (round 10): 200
      // draws split proportionally with largest-remainder top-ups —
      // all integer arithmetic — then the salted-hash rank pick per
      // stratum
      CorpusOps.stratifiedSample(documents(s, dir), k = 200)
        .orderBy("source", "pick_rank")),
    "q_weighted_sample" -> ((s, dir) =>
      // Efraimidis-Spirakis weighted sampling without replacement
      // (round 10): 120 docs drawn proportional-to-n_chars via
      // deterministic reservoir keys ln(u)/w (u from the salted id
      // hash, ln snapped at 1e-6) — one global top-k, no window
      CorpusOps.weightedSample(documents(s, dir), "n_chars", k = 120)
        .orderBy("doc_id")),
    "q_frontier" -> ((s, dir) => {
      // CRAWL-FRONTIER composite (round 10; the crawl-side analogue of
      // the quality stack): discovered links → `graft_url_canon` →
      // Bloom seen-gate against the fetched history → PageRank
      // priority → top-50 next fetches, one dataflow. The link space
      // is TWICE the fetched corpus: targets below N are crawled pages
      // (their canonical URLs populate the history filter — the gate
      // must drop them, Blooms have no false negatives), targets at or
      // above N are undiscovered; Bloom false positives drop a few
      // candidates deterministically (the conservative crawl behavior)
      // and the oracle replays them bit-level. Priorities come from
      // the integer-exact PageRank over the same graph, frontier nodes
      // dangling.
      val docs = documents(s, dir)
      val nn = broadcast(docs.agg(count(lit(1)).as("__n")))
      val links = docs
        .select(col("doc_id").as("src"),
          posexplode(slice(TextOps.tokens(col("text")), 1, 3))
            .as(Seq("__p", "__t")))
        .crossJoin(nn)
        // salt the target hash with src mod 97: the small synthetic
        // vocabulary alone yields ~vocab-size distinct targets; the
        // salt spreads links across the doubled space so the top-50
        // priority pick is non-vacuous at every SF
        .select(col("src"),
          (TextOps.hash56(concat(col("__t"), lit(":"),
            (col("src") % 97).cast("string"))) % (col("__n") * 2))
            .cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val cand = links.groupBy("dst")
        .agg(countDistinct(col("src")).as("n_refs"))
        .withColumn("url", TextOps.canonicalizeUrl(concat(
          lit("HTTP://Crawl.Example.COM:80/x/../d/"), col("dst"), lit("#f"))))
      val hist = docs.select(
        concat(lit("http://crawl.example.com/d/"), col("doc_id")).as("url"))
      val filter = Bloom.buildFilter(hist, "url", 32768, 3)
      val fresh = Bloom.probe(cand, "url", filter, 32768, 3)
        .filter(!col("maybe_seen"))
      val nodes = docs.select(col("doc_id").as("node")).unionByName(
        docs.crossJoin(nn)
          .select((col("doc_id") + col("__n")).cast("long").as("node")))
      val ranks = graft.operators.PageRank.ranks(nodes, links, iters = 10)
      fresh.join(ranks, fresh("dst") === ranks("node"))
        .select(col("url"), col("dst"), col("n_refs"), col("rank_pico"))
        .orderBy(col("rank_pico").desc, col("url"))
        .limit(50)
        .orderBy("dst")
    }),
    "q_pagerank" -> ((s, dir) => {
      // crawl-graph centrality (round 10): fixed-iteration PageRank in
      // exact picorank integer arithmetic over a content-derived link
      // graph — doc u links to the docs its first three tokens hash
      // to (common tokens make hub pages, a realistically skewed
      // in-degree), self-loops dropped, broken links pruned so they
      // become dangling mass. 10 unrolled iterations replay in DuckDB
      // CTE-for-CTE.
      val docs = documents(s, dir)
      val nn = broadcast(docs.agg(count(lit(1)).as("__n")))
      val edges = docs
        .select(col("doc_id"),
          posexplode(slice(TextOps.tokens(col("text")), 1, 3))
            .as(Seq("__p", "__t")))
        .crossJoin(nn)
        .select(col("doc_id").as("src"),
          (TextOps.hash56(col("__t")) % col("__n")).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .join(docs.select(col("doc_id").cast("long").as("dst")), Seq("dst"))
        .distinct()
      graft.operators.PageRank.ranks(
          docs.select(col("doc_id").as("node")), edges, iters = 10)
        .select(col("node").as("doc_id"), col("rank_pico"), col("rank"))
        .orderBy("doc_id")
    }),
    "q_lm_ppl" -> ((s, dir) => {
      // CCNet-style LM quality filter (round 10): interpolated
      // Kneser-Ney bigram model trained on the reference third of the
      // corpus (doc_id%3==0), every doc scored by perplexity, corpus
      // split head/middle/tail by exact perplexity terciles (the
      // Wenzek 2020 §4.3 pipeline stage). Scoring the full corpus
      // against a subset model genuinely exercises the unseen-context
      // and unseen-continuation backoff paths.
      val docs = documents(s, dir)
      LmPerplexity.buckets(docs.filter(col("doc_id") % 3 === 0), docs)
        .orderBy("doc_id")
    }),
    "q_lm_ppl3" -> ((s, dir) => {
      // interpolated Kneser-Ney TRIGRAM tier (round 13): same
      // train/score split as q_lm_ppl, one order higher — seen
      // trigram contexts discount-and-interpolate into the EXACT
      // bigram model, unseen contexts fall through to it, so scoring
      // the full corpus against the one-third model genuinely
      // exercises both backoff paths (plus the bigram's own two
      // beneath them)
      val docs = documents(s, dir)
      LmPerplexity.buckets3(docs.filter(col("doc_id") % 3 === 0), docs)
        .orderBy("doc_id")
    }),
    "q_lm_ppl5" -> ((s, dir) => {
      // the 5-GRAM tier (round 14, VERDICT r13 #6 — the
      // CCNet-published KenLM order): the order-generic scoreN chain
      // at n = 5, same train/score split, so scoring the full corpus
      // against the one-third model exercises every backoff depth —
      // seen 5-gram contexts down through 4/3/2-gram contexts to the
      // continuation floor (LmPerplexitySpec additionally pins
      // scoreN(3) ≡ score3 and scoreN(2) ≡ score bitwise)
      val docs = documents(s, dir)
      LmPerplexity.bucketsN(docs.filter(col("doc_id") % 3 === 0), docs,
          n = 5)
        .orderBy("doc_id")
    }),
    "q_pca_gram" -> ((s, dir) =>
      // the distributed half of PCA/whitening: exact fixed-point
      // sample covariance, upper triangle — d*(d+1)/2 rows out
      // regardless of corpus size (the driver-side eigendecomposition
      // is unit-tested in PcaSpec; it is not SQL-expressible)
      Pca.covarianceLong(embeddings(s, dir), dim = 64).orderBy("i", "j")),
    "q_knn_label" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Embeddings.knnClassify(e, e.filter(col("vec_id") < 20), k = 10)
        .orderBy("query_id")
    }),
    "q_sample_mix" -> ((s, dir) => {
      // apply the q_mix_weights mixture as acceptance rates: rate_d =
      // (weight_d / share_d) / max over domains — upsampled domains keep
      // everything, overrepresented ones are downsampled proportionally
      val mw = CorpusOps.mixtureWeights(documents(s, dir), alpha = 0.5)
      val r = mw.withColumn("__r", col("weight") / col("token_share"))
      val rates = r.withColumn("rate",
          col("__r") / max(col("__r")).over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        .select("source", "rate")
      CorpusOps.sampleByRate(documents(s, dir), rates)
        .select("doc_id", "source", "u").orderBy("doc_id")
    }),
    "q_mix_weights" -> ((s, dir) =>
      CorpusOps.mixtureWeights(documents(s, dir), alpha = 0.5)
        .orderBy("source")),
    "q_mix_alloc" -> ((s, dir) =>
      // budget/repeat allocation (round 13): weight*budget targets
      // capped at 3 epochs per source with an honest deficit column —
      // alpha=0.5 upsamples small sources, so they hit the repeat cap
      // first; the 84k budget straddles the cap threshold at sf0.01,
      // so both verdict polarities land in the oracle row
      CorpusOps.mixtureAllocation(documents(s, dir),
        budgetTokens = 84000L, alpha = 0.5, maxRepeat = 3.0)
        .orderBy("source")),
    "q_mix_divcap" -> ((s, dir) =>
      // diversity-capped mixture (round 14): a source's achievable
      // tokens are bounded by its 10 hash-picked documents at 3 epochs
      // (the q_sample_k pick), not its full mass — the 28k budget
      // straddles the pick-based caps at sf0.01, so both verdict
      // polarities land in the oracle rows
      CorpusOps.mixtureDiversityCap(documents(s, dir),
          budgetTokens = 28000L, kPerSource = 10, alpha = 0.5,
          maxRepeat = 3.0)
        .orderBy("source")),
    "q_mix_waterfill" -> ((s, dir) =>
      // exact water-filling (round 13): the 80k budget sits inside the
      // cap spread at sf0.01 (caps 3xn ~ 3.8k-4.7k, proportional share
      // ~4k), so some sources cap and the level genuinely rises —
      // redistribution solved in closed form, level picked by exact
      // decimal cross-products
      CorpusOps.mixtureWaterfill(documents(s, dir),
        budgetTokens = 80000L, alpha = 0.5, maxRepeat = 3.0)),
    "q_asof_attrib" -> ((s, dir) => {
      // click -> most recent prior view by the same user (point-in-time
      // attribution); oracle is DuckDB's native ASOF LEFT JOIN; the
      // shared `events` reader normalizes the ts physical type
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id", "value")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
          col("value").as("view_value"))
      graft.operators.AsOfJoin.asof(clicks, views, "ts", Seq("user_id"),
          Seq("view_id", "view_value"))
        .orderBy("event_id")
    }),
    "q_bm25" -> ((s, dir) => {
      // bounded query batch: the first 8 tokens of the 5 lowest-id docs
      // (each query therefore has a guaranteed relevant hit: itself);
      // scores come off the SHARED persisted inverted index
      val qs = documents(s, dir).filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
      Search.bm25TopKFromIndex(bm25Index(s, dir), qs, k = 10)
    }),
    "q_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 (lexical) and brute cosine (dense) arms
      // over the SAME 5 query docs (vec_id ≡ doc_id in the testdata),
      // fused by reciprocal-rank fusion — ranks only, never the arms'
      // incomparable score scales. The fused top-10 rides the
      // partial-heap operator.
      val qs = documents(s, dir).filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
      val bm = Search.bm25TopKFromIndex(bm25Index(s, dir), qs, k = 20)
      val e = embeddings(s, dir)
      val vec = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 20)
        .withColumnRenamed("neighbor_id", "doc_id")
      Search.rrfFuse(bm, vec, k = 10)
    }),
    "q_hard_negatives" -> ((s, dir) => {
      // embedding-space hard negatives: nearest candidates by cosine
      // excluding the anchor's positive (vec_id + 100) — one kNN pass
      // at k = n + margin, anti-join, bounded re-rank
      val e = embeddings(s, dir)
      val positives = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"),
          (col("vec_id") + 100).as("positive_id"))
      Similarity.hardNegatives(e, positives, n = 5, margin = 8)
    }),
    "q_hard_negatives_adc" -> ((s, dir) => {
      // the IVFADC arm of hard-negative mining: residual-code ADC
      // shortlist + exact rerank as the kNN stage (k = n + margin),
      // sharing the q_hard_negatives exclusion + re-rank tail and the
      // memoized coarse/residual models of q_ivfadc
      val e = embeddings(s, dir)
      val positives = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"),
          (col("vec_id") + 100).as("positive_id"))
      Similarity.hardNegativesAdc(e, positives,
        coarseCentroids(s, dir), pqResidBooks(s, dir), dim = 64,
        n = 5, margin = 8, nProbe = 4, rerank = 8)
    }),
    "q_neg_sample" -> ((s, dir) => {
      // deterministic contrastive negatives: anchors = docs 0..9,
      // positive = anchor + 100; 5 negatives each from 15 hash probes
      // against the epoch-0 permutation — no cross join anywhere
      val d = documents(s, dir).select("doc_id")
      val positives = d.filter(col("doc_id") < 10)
        .select(col("doc_id").as("anchor_id"),
          (col("doc_id") + 100).as("positive_id"))
      CorpusOps.negativeSample(positives, d, n = 5, oversample = 3,
        epoch = 0)
    }),
    "q_corpus_asof" -> ((s, dir) => {
      // time travel: an append-only change log (v1 at ts=10*id, a v2
      // re-fetch of every 3rd doc 5 ticks later, a tombstone for every
      // 7th doc 8 ticks later) read back AS OF ts=3000 — v2s and
      // deletes after the cutoff must not show
      val d = documents(s, dir).select("doc_id", "text")
      val log = d.select(col("doc_id"), (col("doc_id") * 10).as("ts"),
          col("text"), lit(false).as("deleted"))
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), (col("doc_id") * 10 + 5).as("ts"),
            concat(col("text"), lit(" v2")).as("text"), lit(false).as("deleted")))
        .unionByName(d.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id"), (col("doc_id") * 10 + 8).as("ts"),
            lit("").as("text"), lit(true).as("deleted")))
      CorpusOps.corpusAsOf(log, asOfTs = 3000L).orderBy("doc_id")
    }),
    "q_containment" -> ((s, dir) =>
      // quote/subset dedup over the SAME persisted shingle sets as the
      // jaccard/minhash/cluster queries; candidates df-capped, verified
      // exactly against the full sets
      Dedup.containmentPairsFromSets(docShingleSets(s, dir, n = 3),
        minContainment = 0.5, maxDf = 100)),
    "q_unigram_lp" -> ((s, dir) =>
      TextStats.unigramLogProb(documents(s, dir)).orderBy("doc_id")),
    "q_heavy_hitters" -> ((s, dir) =>
      // exact (1/500)-heavy tokens via the Misra-Gries candidate pass +
      // broadcast verify join; output counts are exact, so the oracle
      // (a plain exact count in DuckDB) matches bitwise — the sketch
      // only prunes, it never changes the answer
      HeavyHitters.heavyHitters(documents(s, dir), num = 1, den = 500)),
    "q_cms_freq" -> ((s, dir) => {
      // Count-Min point queries vs exact counts for every (1/500)-heavy
      // token — sketch composed with sketch: the probe set is the
      // Misra-Gries-pruned exact heavy-hitter table, the estimates come
      // off a d=4 x w=512 counter grid built in one map-side-combinable
      // pass. All-integer (double-md5 Kirsch-Mitzenmacher columns,
      // long counters, integer min), so the DuckDB oracle replays the
      // grid and every estimate — collisions included — verbatim; the
      // exact column pins the one-sided overcount bound in data.
      val toks = documents(s, dir).select(
        explode(graft.text.TextOps.tokens(col("text"))).as("token"))
      val grid = graft.stats.Cms.buildCounters(
        toks, col("token"), w = 512, d = 4)
      val heavy = HeavyHitters.heavyHitters(documents(s, dir),
        num = 1, den = 500)
      graft.stats.Cms.estimate(heavy, col("token"), grid, w = 512, d = 4)
        .select("token", "cnt", "cms_count").orderBy("token")
    }),
    "q_wet_extract" -> ((s, dir) => {
      // WET extraction pinned end-to-end: each document is wrapped in
      // a crawler-page HTML template (comment + dropped head with a
      // tag-bearing script string + h1/p/div block structure + entity
      // escaping), then graft_html_text must invert the wrapper — the
      // oracle computes the expected normal form from the raw table,
      // so tag stripping, content drops, entity decode, block breaks
      // and whitespace normalization are all value-pinned per doc
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<html><!-- crawler page --><head><title>skip</title>" +
          "<script>var x = '<p>not text</p>';</script></head>" +
          "<body><h1>Doc "), col("doc_id"),
        lit("</h1><p>"), esc,
        lit("</p><div>footer &copy; corp</div></body></html>"))
      documents(s, dir)
        .select(col("doc_id"), TextOps.htmlToText(html).as("text"))
        .orderBy("doc_id")
    }),
    "q_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL — the de-facto LLM-corpus interchange format — written
      // as JSON-lines part files and read back under the EXPLICIT
      // schema (inference drift is the classic silent corruption).
      // A `probe` column carries the characters JSON must escape —
      // quote, backslash, newline, tab, a combining mark — so the
      // oracle (which reads the parquet table and rebuilds the probe
      // directly) proves escape → encode → decode restores every
      // string byte, the q_warc_roundtrip pattern.
      val docs = documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"),
          concat(lit("\"q\\"), lit("\n\t"), substring(col("text"), 1, 8),
            lit("\u0301")).as("probe"))
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jsonl_roundtrip").getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      docs.repartition(4).write.json(tmp)
      s.read.schema(docs.schema).json(tmp).orderBy("doc_id")
    }),
    "q_warc_roundtrip" -> ((s, dir) => {
      // corpus -> WARC segment files (per-record gzip members, the
      // Common Crawl layout) via the graft sink, read back through the
      // `warc` DataSource V2 with a record-type pushdown, payloads
      // decoded and re-keyed by target URI. The oracle reads the
      // documents table directly, so the equality proves the whole
      // encode -> part files -> DSv2 scan -> filter -> decode path is
      // byte-lossless. Request records (different type, different
      // payload) are interleaved to make the pushdown observable.
      import graft.sources.Warc
      val docs = documents(s, dir).select("doc_id", "text", "source")
      def recs(kind: String, idTag: String, ctype: String,
               payload: org.apache.spark.sql.Column) = docs.select(
        lit(kind).as("warc_type"),
        concat(lit(s"<urn:graft:$idTag:"), col("doc_id"), lit(">")).as("record_id"),
        concat(lit("http://corpus.local/"), col("source"), lit("/"),
          col("doc_id")).as("target_uri"),
        expr("timestamp_micros(1700000000000000 + doc_id * 1000000)")
          .as("warc_date"),
        lit(ctype).as("content_type"),
        payload.as("payload"))
      val resp = recs("response", "doc", "text/plain", encode(col("text"), "UTF-8"))
      val reqs = recs("request", "req", "application/http",
        encode(col("source"), "UTF-8"))
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_warc_roundtrip").getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Warc.write(resp.unionByName(reqs).repartition(4, col("record_id")),
        tmp, gzip = true)
      Warc.read(s, tmp)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("content_length").as("n_bytes"),
          col("payload").cast("string").as("text"))
        .orderBy("doc_id")
    }),
    "q_corpus_pipeline" -> ((s, dir) => {
      // END-TO-END CORPUS REFRESH — the 2.12 extension family's
      // tear-sheet analogue: every stage is an operator with its own
      // oracle row, chained as ONE dataflow whose seams this row pins.
      //   crawl batch -> WARC encode -> part files -> DSv2 scan with
      //   warc_type pushdown -> URL canonicalization -> WET extraction
      //   -> graft_textnorm (NFC + casefold, BEFORE every hash) ->
      //   Bloom history gate vs the held corpus (+ exact recheck of
      //   the maybe-seen slice) -> gopher rules + pre-trained quality
      //   classifier -> KN-bigram LM perplexity tercile gate (CCNet;
      //   the held corpus is the reference model, tail dropped) ->
      //   exact dedup (min-id keeper) -> span dedup rewrite (k=5) ->
      //   merge upsert with tombstones -> epoch shard.
      // Output: one verdict row per batch document — stage flags, text
      // hashes at the three text-mutating boundaries (WET, textnorm,
      // span rewrite), the LM evidence, final merge verdict and
      // shard/pos (sentinel from the stage a document dropped at).
      import graft.sources.Warc
      val d = documents(s, dir).select("doc_id", "text", "source")
      // the refresh batch: new docs (odds), changed re-fetches of held
      // evens (%8==4, 'v2 ' prefix -> new content, same id), unchanged
      // re-crawls (%10==0, CASE-JITTERED uppercase-first-16 — only the
      // textnorm pass lets the history gate catch them), and
      // mirror-site duplicates of in-batch odds (%10==1, new id,
      // UPPERCASED content — the exact-dedup stage drops the copy only
      // because both spellings normalize to one key)
      val batch = d.filter(col("doc_id") % 2 === 1)
        .unionByName(d.filter(col("doc_id") % 8 === 4)
          .select(col("doc_id"), concat(lit("v2 "), col("text")).as("text"),
            col("source")))
        .unionByName(d.filter(col("doc_id") % 10 === 0 && col("doc_id") % 8 =!= 4)
          .select(col("doc_id"),
            concat(upper(expr("substring(text, 1, 16)")),
              expr("substring(text, 17)")).as("text"),
            col("source")))
        .unionByName(d.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 200000).as("doc_id"),
            upper(col("text")).as("text"), col("source")))
      def recs(kind: String, idTag: String, ctype: String,
               payload: Column) = batch.select(
        lit(kind).as("warc_type"),
        concat(lit(s"<urn:graft:$idTag:"), col("doc_id"), lit(">")).as("record_id"),
        // the messiest legal form of each doc's URL (the q_url_canon
        // recipe): canonicalization is stage 2 of the pipeline
        concat(lit("HTTP://Crawl.Example.COM:80/"), col("source"),
          lit("/x/../"), col("doc_id").cast("string"),
          lit("/./%41sset-%7ev?q=%20raw&u=%7e#sec-"),
          col("doc_id").cast("string")).as("target_uri"),
        expr("timestamp_micros(1700000000000000 + doc_id * 1000000)")
          .as("warc_date"),
        lit(ctype).as("content_type"),
        payload.as("payload"))
      val resp = recs("response", "pdoc", "text/html",
        encode(wetWrap(col("text")), "UTF-8"))
      val reqs = recs("request", "preq", "application/http",
        encode(col("source"), "UTF-8"))
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_warc_pipeline").getAbsolutePath
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Warc.write(resp.unionByName(reqs).repartition(4, col("record_id")),
        tmp, gzip = true)
      val decoded = Warc.read(s, tmp)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "sec-([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          TextOps.canonicalizeUrl(col("target_uri")).as("url"),
          TextOps.htmlToText(col("payload").cast("string")).as("wtext"))
        // normalize BEFORE every content hash (Bloom gate, exact
        // dedup, span shingles): the case-jittered re-crawls and
        // uppercased mirrors collapse to the held spelling only here
        .withColumn("ntext", TextOps.normalizeText(col("wtext")))
      // history gate: Bloom snapshot of the held corpus's WET texts
      // (evens were extracted when first crawled), scan-local probes,
      // exact recheck of the maybe-seen slice. m is sized TIGHT (2048
      // bits for ~250 keys) so real false positives flow through the
      // composite and the recheck seam is exercised, not just pinned
      // in q_bloom_dedup
      // feeds three branches (filter build, exact-recheck join, merge
      // current side): checkpoint the one-time WET extraction
      val exw = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          TextOps.normalizeText(TextOps.htmlToText(wetWrap(col("text"))))
            .as("ntext"))
        .localCheckpoint()
      val filter = Bloom.buildFilter(
        exw.select(col("ntext").as("text")), "text", mBits = 2048, k = 3)
      // the verdict table fans SEVEN plan branches out of this chain
      // (gate flags, quality, LM, exact dedup, span rewrite, merge,
      // shard) — stage boundaries are EAGER localCheckpoints, not
      // persists: a persist keeps the full lineage in the plan, and
      // with seven nested boundaries the recursively-embedded cached
      // plans made DRIVER-SIDE PLANNING the dominant cost (measured
      // 69s at sf0.1 vs ~21s of actual stage work; the PageRank
      // 2x-lineage lesson). The checkpoint truncates each boundary to
      // a leaf. Trade: on executor loss the query re-runs instead of
      // recomputing from lineage — the standard iterative-pipeline
      // trade, acceptable for a batch refresh job
      val gated = Bloom.probe(decoded, "ntext", filter, mBits = 2048, k = 3)
        .join(exw.select("ntext").distinct().withColumn("__sx", lit(true)),
          Seq("ntext"), "left")
        .withColumn("seen_exact", coalesce(col("__sx"), lit(false)))
        .withColumn("gate_kept", !col("seen_exact"))
        .drop("__sx")
        .localCheckpoint()
      val gsurv = gated.filter(col("gate_kept")).select("doc_id", "ntext")
      // quality: rule half (gopher) + learned half (pre-trained
      // classifier, the q_quality_clf weights) — kept = both agree.
      // The STATELESS gopher variant (round 16): a pure per-row
      // projection over the gated leaf — no 2-gram aggregate, no
      // join-back — with quality_pass pinned column-identical to
      // gopherRules by TextStatsSpec, so the stage's shuffles drop
      // from two aggregations + a join to zero
      val gq = TextStats.gopherRulesStateless(gsurv, textCol = "ntext")
        .select("doc_id", "quality_pass")
      // the learned gate runs at a CALIBRATED operating point (score
      // >= 1e-6, i.e. any positive evidence on the snapped grid), not
      // the nominal 0.5 — fasttext-style quality filters are deployed
      // with a cutoff tuned for target retention, and this corpus's
      // under-trained 3-iter model is a confident majority-class
      // predictor at 0.5 (which would keep nothing and starve every
      // downstream stage)
      val scored = Classifier.classify(gsurv, clfWeights(s, dir),
          dim = 64, threshold = 1e-6, textCol = "ntext")
        .select("doc_id", "score", "predicted")
      val qual = gq.join(scored, Seq("doc_id"))
        .withColumn("quality_kept",
          col("quality_pass") === 1 && col("predicted") === 1)
        .localCheckpoint()
      val qsurv = gsurv.join(
        qual.filter(col("quality_kept")).select("doc_id"), Seq("doc_id"))
      // LM perplexity gate (CCNet): the held corpus is the reference
      // model, quality survivors are scored against it, terciles are
      // cut over the survivor population, and the worst tercile is
      // dropped (token-less docs carry the 'empty' sentinel and pass,
      // the quality-stack admission rule)
      val lm = LmPerplexity.buckets(
          exw.select(col("doc_id"), col("ntext").as("text")),
          qsurv.select(col("doc_id"), col("ntext").as("text")))
        .withColumn("lm_kept", col("bucket") =!= "tail")
        .localCheckpoint()
      val lsurv = qsurv.join(
        lm.filter(col("lm_kept")).select("doc_id"), Seq("doc_id"))
      // exact dedup among LM survivors: min-id keeper per content.
      // NOT checkpointed (round 16): the keeper join reads only
      // checkpointed leaves (gated/qual/lm) and has ONE consumer —
      // the span stage below — because the verdict row derives
      // exact_kept from span presence (spanDedup emits exactly one
      // row per input doc, so doc ∈ span ⟺ exact_kept; a doc dropped
      // here or earlier coalesces to false either way)
      val esurv = lsurv
        .join(lsurv.groupBy("ntext").agg(min("doc_id").as("__keep")), "ntext")
        .filter(col("doc_id") === col("__keep"))
        .select("doc_id", "ntext")
      // span-dedup rewrite over the surviving batch (k=5)
      val span = Rewrite.spanDedup(
        esurv.withColumnRenamed("ntext", "text"), k = 5)
        .localCheckpoint()
      // merge the refresh into the held corpus: survivors upsert
      // (ts = id*10+5 beats current's id*10), tombstone feed deletes
      // evens %20==2; then shard the merged corpus for the dataloader
      val cur = exw.select(col("doc_id"), (col("doc_id") * 10).as("ts"),
        col("ntext").as("text"))
      val upd = span.select(col("doc_id"),
        (col("doc_id") * 10 + 5).as("ts"), col("text"),
        lit(false).as("deleted"))
      val dels = d.filter(col("doc_id") % 20 === 2)
        .select(col("doc_id"), (col("doc_id") * 10 + 9).as("ts"),
          lit("").as("text"), lit(true).as("deleted"))
      val merged = CorpusOps.mergeCorpus(cur, upd.unionByName(dels))
        .localCheckpoint()
      val shards = CorpusOps.epochShard(
        merged.select("doc_id"), epoch = 2, nShards = 8)
      // sentinel-coalesced flags: a doc dropped before a stage reports
      // -1 / false / '' rather than SQL NULL, so the verdict table's
      // non-float columns are non-nullable (hash-stable across engines)
      gated.select(col("doc_id"), col("url"),
          md5(col("wtext")).as("wet_hash"),
          md5(col("ntext")).as("norm_hash"),
          col("maybe_seen"), col("seen_exact"), col("gate_kept"))
        .join(qual, Seq("doc_id"), "left")
        .join(lm.select(col("doc_id"), col("n_bigrams"), col("lp_micro"),
          col("ppl"), col("bucket").as("lm_bucket"), col("lm_kept")),
          Seq("doc_id"), "left")
        .join(span.select(col("doc_id"), col("n_kept"),
          md5(col("text")).as("span_hash"),
          // exact_kept ⟺ the doc reached the span stage (spanDedup
          // keeps one row per exact-dedup keeper); docs dropped at or
          // before exact dedup miss this join and coalesce to false —
          // the identical verdict the materialized exact frame carried
          lit(true).as("exact_kept")), Seq("doc_id"), "left")
        .join(merged.select("doc_id", "verdict"), Seq("doc_id"), "left")
        .join(shards, Seq("doc_id"), "left")
        .select(col("doc_id"), col("url"), col("wet_hash"), col("norm_hash"),
          col("maybe_seen"), col("seen_exact"), col("gate_kept"),
          coalesce(col("quality_pass"), lit(-1L)).as("quality_pass"),
          coalesce(col("score"), lit(-1.0)).as("score"),
          coalesce(col("predicted"), lit(-1)).as("predicted"),
          coalesce(col("quality_kept"), lit(false)).as("quality_kept"),
          coalesce(col("n_bigrams"), lit(-1L)).as("n_bigrams"),
          coalesce(col("lp_micro"), lit(0L)).as("lp_micro"),
          coalesce(col("ppl"), lit(-1.0)).as("ppl"),
          coalesce(col("lm_bucket"), lit("")).as("lm_bucket"),
          coalesce(col("lm_kept"), lit(false)).as("lm_kept"),
          coalesce(col("exact_kept"), lit(false)).as("exact_kept"),
          coalesce(col("n_kept"), lit(-1L)).as("n_kept"),
          coalesce(col("span_hash"), lit("")).as("span_hash"),
          coalesce(col("verdict"), lit("")).as("verdict"),
          coalesce(col("shard"), lit(-1L)).as("shard"),
          coalesce(col("pos"), lit(-1L)).as("pos"))
        .orderBy("doc_id")
    })
  )

  // ---- DuckDB oracle SQL --------------------------------------------

  /** Tokens / shingle CTE fragments shared by the text oracles. */
  /** q_edit_neardup oracle at an arbitrary 1e6-scaled similarity cut:
    * the q_minhash_neardup candidate replay + levenshtein verify, cut
    * on the exact integer cross-product, sim rounded at 1e-9 — shared
    * by the loose (0.4) query and the tight (0.8) bench twin that
    * shows the banded kernel's narrow-band regime. */
  private def editNearDupSql(tauMicro: Long): String = {
    val P = TextOps.HashP
    val mins = (0 until 16).map { jj =>
      val (a, b) = TextOps.hashParams(jj)
      s"min(($a * h0 + $b) % $P) AS m$jj"
    }.mkString(", ")
    val bandKeys = (0 until 4).map { b =>
      "'" + b + ":' || " + (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
        .mkString(" || ':' || ")
    }.mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |sh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM t),
       |sh2 AS (SELECT id, s FROM sh WHERE len(s) > 0),
       |posts AS (SELECT id, ${hash56("g")} % $P AS h0 FROM
       |  (SELECT id, unnest(s) AS g FROM sh2)),
       |mh AS (SELECT id, $mins FROM posts GROUP BY id),
       |bk AS (SELECT id, unnest($bandKeys) AS k FROM mh),
       |cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
       |  FROM bk a JOIN bk b ON a.k = b.k AND a.id < b.id),
       |v AS (SELECT doc_a, doc_b,
       |    levenshtein(da.text, db.text)::BIGINT AS lev,
       |    greatest(length(da.text), length(db.text))::BIGINT AS ml
       |  FROM cand JOIN documents da ON da.doc_id = doc_a
       |  JOIN documents db ON db.doc_id = doc_b
       |  WHERE greatest(length(da.text), length(db.text)) > 0)
       |SELECT doc_a, doc_b, lev,
       |  round((ml - lev)::DOUBLE / ml, 9) AS sim
       |FROM v WHERE (ml - lev) * 1000000 >= $tauMicro * ml
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  private val toksExpr = "list_filter(string_split(text, ' '), x -> x <> '')"

  /** CTE chain of [[graft.text.Cdc.cdcChunks]] (w=8, divisor=16) over
    * a (doc_id, text) relation (no WITH), ending in `<p>cdch(doc_id,
    * chunk_idx, start_pos, n_tokens, chunk_hash)` — shared by the
    * chunk-table, chunk-store-dedup, and incremental-sync oracles.
    * Boundary after token s+w-1 when the 56-bit window hash is ≡ 0 mod
    * divisor; chunk_idx = cuts strictly before the token. */
  /** CTE chain replaying the byte-level Gear CDC kernel
    * (functions/GearChunks.scala) over a (doc_id, text) relation:
    * GEAR[b] regenerated from md5, the low-6-bit cut test in its
    * 6-term lag-window form (each term pre-reduced mod 64 so the
    * arithmetic stays far from BIGINT range), chunks cut between
    * boundary positions. Emits `${p}bch` with (doc_id, chunk_idx,
    * start, len, chunk_hash). ascii() == byte value requires the
    * all-ASCII corpus (verified for the testdata documents). */
  private def byteCdcCtes(src: String, p: String): String = {
    val gearLags = (0 until 6).map { j =>
      val coef = 1L << j
      val gv = if (j == 0) "gv" else s"coalesce(lag(gv, $j) OVER w, 0)"
      s"$coef * ($gv % 64)"
    }.mkString(" + ")
    s"""${p}pos AS (SELECT doc_id, text,
       |    unnest(range(1, length(text) + 1)) AS i FROM $src),
       |${p}g AS (SELECT doc_id, text, (i - 1)::INT AS p,
       |    ${hash56("'gear:' || ascii(substr(text, i, 1))::VARCHAR")} AS gv
       |  FROM ${p}pos),
       |${p}r AS (SELECT doc_id, text, p,
       |    ($gearLags) % 64 AS lowbits,
       |    max(p) OVER (PARTITION BY doc_id) AS lastp
       |  FROM ${p}g WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
       |${p}cuts AS (SELECT doc_id, text, p FROM ${p}r
       |  WHERE lowbits = 0 OR p = lastp),
       |${p}ch AS (SELECT doc_id, text,
       |    (row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1)::INT
       |      AS chunk_idx,
       |    (coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), -1)
       |      + 1)::INT AS start,
       |    (p - coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), -1)
       |      )::INT AS len
       |  FROM ${p}cuts),
       |${p}bch AS (SELECT doc_id, chunk_idx, start, len,
       |    ${hash56("substr(text, start + 1, len)")} AS chunk_hash
       |  FROM ${p}ch)""".stripMargin
  }

  /** CTE rebuilding [[graft.multimodal.Multimodal.syntheticCorpus]]'s
    * binary-PPM payload as a VARCHAR over a (doc_id, text) relation —
    * valid because header and cyclic body are all-ASCII for the
    * testdata corpus, so char ops == byte ops and md5(VARCHAR) hashes
    * the same bytes the Spark kernel sees. Emits `$out` with
    * (doc_id, text = the payload). */
  private def p6PayloadCte(src: String, out: String): String =
    s"""$out AS (SELECT doc_id,
       |    'P6' || chr(10) || (doc_id % 13 + 4)::VARCHAR || ' ' ||
       |    (doc_id % 11 + 4)::VARCHAR || chr(10) || '255' || chr(10) ||
       |    substr(repeat(text || '.',
       |      ceil(((doc_id % 13 + 4) * (doc_id % 11 + 4) * 3)::DOUBLE
       |        / length(text || '.'))::INT),
       |      1, ((doc_id % 13 + 4) * (doc_id % 11 + 4) * 3)::INT) AS text
       |  FROM $src)""".stripMargin

  /** CTE rebuilding [[graft.multimodal.Multimodal.syntheticWavCorpus]]'s
    * RIFF/WAVE container byte-exactly as a VARCHAR: the canonical
    * 44-byte header (binary LE size/rate fields as chr() — every value
    * < 128, so each chr is the single byte Wav.encode wrote), the
    * 8-bit PCM body = n cyclic document bytes, and the RIFF pad byte
    * on odd n. Valid because every byte ≤ 0x7F for the ASCII corpus.
    * Emits `$out` with (doc_id, text = the container bytes). */
  private def wavPayloadCte(src: String, out: String): String = {
    val nul3 = "chr(0) || chr(0) || chr(0)"
    // sample rate 8000 = LE 0x40 0x1F 0x00 0x00; byteRate = 8000 * 1
    val le8000 = s"chr(64) || chr(31) || chr(0) || chr(0)"
    s"""$out AS (SELECT doc_id,
       |    'RIFF' || chr((36 + n + (n % 2))::INT) || $nul3 || 'WAVE' ||
       |    'fmt ' || chr(16) || $nul3 ||
       |    chr(1) || chr(0) || chr(1) || chr(0) ||
       |    $le8000 || $le8000 ||
       |    chr(1) || chr(0) || chr(8) || chr(0) ||
       |    'data' || chr(n) || $nul3 ||
       |    substr(repeat(text || '.',
       |      ceil(n::DOUBLE / length(text || '.'))::INT), 1, n) ||
       |    CASE WHEN n % 2 = 1 THEN chr(0) ELSE '' END AS text
       |  FROM (SELECT doc_id, text, (doc_id % 40 + 20)::INT AS n
       |        FROM $src))""".stripMargin
  }

  /** CTE rebuilding [[graft.multimodal.Multimodal.syntheticY4mCorpus]]'s
    * YUV4MPEG2 container as a VARCHAR: the ASCII stream header, then
    * per frame a `FRAME\n` marker + that frame's w*h slice of the
    * continuous cyclic document-byte stream. Emits `$out` with
    * (doc_id, text). */
  private def y4mPayloadCte(src: String, out: String): String =
    s"""$out AS (SELECT doc_id,
       |    'YUV4MPEG2 W' || w::VARCHAR || ' H' || h::VARCHAR ||
       |      ' F30:1 Ip A1:1 Cmono' || chr(10) ||
       |      string_agg('FRAME' || chr(10) ||
       |        substr(cyc, fi::INT * fsz + 1, fsz), '' ORDER BY fi) AS text
       |  FROM (SELECT doc_id, w, h, fsz, cyc, unnest(range(nf)) AS fi
       |    FROM (SELECT doc_id,
       |        (doc_id % 13 + 4)::INT AS w, (doc_id % 11 + 4)::INT AS h,
       |        (doc_id % 4 + 2)::INT AS nf,
       |        ((doc_id % 13 + 4) * (doc_id % 11 + 4))::INT AS fsz,
       |        substr(repeat(text || '.',
       |          ceil(((doc_id % 4 + 2) * (doc_id % 13 + 4)
       |              * (doc_id % 11 + 4))::DOUBLE
       |            / length(text || '.'))::INT),
       |          1, ((doc_id % 4 + 2) * (doc_id % 13 + 4)
       |              * (doc_id % 11 + 4))::INT) AS cyc
       |      FROM $src))
       |  GROUP BY doc_id, w, h)""".stripMargin

  /** Shared CTE body replaying the full residual IVFADC read path
    * (the q_ivfadc recipe: coarse Lloyd chain, residual sub-chains,
    * per-probed-cell ADC tables, shortlist, exact-cosine rerank) up
    * through `rk2` (query_id, neighbor_id, cos, rank). `queryPred`
    * selects the query vectors; `kShort` is the ADC shortlist bound
    * (rerank * k). */
  private def ivfAdcOracleCtes(queryPred: String, kShort: Int,
      corpusPred: String = "TRUE"): String = {
      // replays the RESIDUAL Pq.ivfAdcTopK: the q_ann_ivf coarse chain
      // (prefix g, 5 iters over the full 64 dims) routes corpus
      // vectors to cells and queries to their 4 probe cells; residual
      // components r = q_vec − c_cell feed per-subspace Lloyd chains
      // (the same hash-sample + lowest-id init), codes are residual
      // argmins, and each query builds one ADC table PER PROBED CELL
      // from q − c_probecell; ADC scores only the probed cells'
      // candidates, shortlists the top rerank*k=80 per query, and the
      // shortlist reranks by exact cosine (same formula + tie-break
      // as q_ann_ivf). Every quantity is an exact grid integer.
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      val residSubChains = (0 until 8).map { s =>
        val off = s * 8
        s"""rs${s}eqs AS (SELECT r.vec_id, r.d - $off AS d, r.q
           |  FROM rall r JOIN samp USING (vec_id)
           |  WHERE r.d >= $off AND r.d < $off + 8),
           |rs${s}c0 AS (SELECT i.cell, e.d, e.q
           |  FROM init i JOIN rs${s}eqs e USING (vec_id)),
           |${lloydChain(3, s"rs$s")},
           |rs${s}eqa AS (SELECT vec_id, d - $off AS d, q FROM rall
           |  WHERE d >= $off AND d < $off + 8),
           |rs${s}dall AS (SELECT v.vec_id, c.cell,
           |    sum((v.q - c.q) * (v.q - c.q)) AS dist
           |  FROM rs${s}eqa v JOIN rs${s}c3 c ON v.d = c.d GROUP BY 1, 2),
           |rs${s}asg AS (SELECT vec_id, cell FROM (
           |  SELECT vec_id, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
           |  FROM rs${s}dall) WHERE rn = 1),
           |qd$s AS (SELECT r.query_id, r.pcell, cb.cell,
           |    sum((r.q - cb.q) * (r.q - cb.q)) AS dist
           |  FROM (SELECT query_id, pcell, d - $off AS d, q FROM qres
           |        WHERE d >= $off AND d < $off + 8) r
           |  JOIN rs${s}c3 cb ON cb.d = r.d GROUP BY 1, 2, 3)""".stripMargin
      }.mkString(",\n")
      val residCodesLong = (0 until 8)
        .map(s => s"SELECT vec_id, $s AS s, cell FROM rs${s}asg")
        .mkString("\nUNION ALL\n")
      val residQdLong = (0 until 8)
        .map(s => s"SELECT query_id, pcell, $s AS s, cell, dist FROM qd$s")
        .mkString("\nUNION ALL\n")
      s"""WITH $pqSharedCtes,
         |geqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |gc0 AS (SELECT i.cell, e.d, e.q FROM init i JOIN geqs e USING (vec_id)),
         |${lloydChain(5, "g")},
         |geqa AS MATERIALIZED (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)),
         |gcf AS MATERIALIZED (SELECT cell, d, q FROM gc5),
         |gdall AS MATERIALIZED (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM geqa v JOIN gcf c ON v.d = c.d GROUP BY 1, 2),
         |gasg AS MATERIALIZED (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM gdall) WHERE rn = 1),
         |probe AS MATERIALIZED (SELECT vec_id AS query_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM gdall WHERE $queryPred) WHERE rn <= 4),
         |rall AS MATERIALIZED (SELECT g.vec_id, g.d, (g.q - c.q) AS q
         |  FROM geqa g JOIN gasg a USING (vec_id)
         |  JOIN gcf c ON c.cell = a.cell AND c.d = g.d),
         |qres AS MATERIALIZED (SELECT p.query_id, p.cell AS pcell, g.d, (g.q - c.q) AS q
         |  FROM probe p JOIN geqa g ON g.vec_id = p.query_id
         |  JOIN gcf c ON c.cell = p.cell AND c.d = g.d),
         |$residSubChains,
         |codes_long AS ($residCodesLong),
         |qd_long AS ($residQdLong),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.cell
         |  FROM probe p JOIN gasg a USING (cell)
         |  JOIN embeddings ce ON ce.vec_id = a.vec_id
         |  WHERE p.query_id <> a.vec_id AND ($corpusPred)),
         |ad AS (SELECT cand.query_id, cand.neighbor_id,
         |    sum(q.dist)::BIGINT AS adc_dist
         |  FROM cand JOIN codes_long c ON c.vec_id = cand.neighbor_id
         |            JOIN qd_long q ON q.query_id = cand.query_id
         |                          AND q.pcell = cand.cell
         |                          AND q.s = c.s AND q.cell = c.cell
         |  GROUP BY 1, 2),
         |rk AS (SELECT query_id, neighbor_id, adc_dist,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, neighbor_id) AS rank
         |  FROM ad),
         |short AS (SELECT query_id, neighbor_id FROM rk WHERE rank <= $kShort),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM short JOIN embeddings eq ON eq.vec_id = query_id
         |             JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |rk2 AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)""".stripMargin
  }

  private def cdcChunkCtes(src: String = "documents",
      p: String = ""): String = {
    val w = 8; val d = 16
    s"""${p}cdt AS (SELECT doc_id, $toksExpr AS toks FROM $src),
       |${p}cdk AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
       |  FROM ${p}cdt WHERE len(toks) > 0),
       |${p}cdtk AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM ${p}cdk),
       |${p}cdcut AS (SELECT doc_id, s + ${w - 1} AS pos FROM
       |    (SELECT doc_id, unnest(range(len(toks) - ${w - 1})) AS s, toks
       |     FROM ${p}cdt WHERE len(toks) >= $w)
       |  WHERE ${hash56(
                s"'cdcw:' || array_to_string(list_slice(toks, s + 1, s + $w), ' ')")}
                % $d = 0),
       |${p}cdix AS (SELECT t.doc_id, t.pos, t.tok,
       |    coalesce(sum(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY t.doc_id ORDER BY t.pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0)::BIGINT AS chunk_idx
       |  FROM ${p}cdtk t LEFT JOIN ${p}cdcut c
       |    ON t.doc_id = c.doc_id AND t.pos = c.pos),
       |${p}cdch AS (SELECT doc_id, chunk_idx, min(pos)::BIGINT AS start_pos,
       |    count(*)::BIGINT AS n_tokens,
       |    ${hash56("'cdc:' || string_agg(tok, ' ' ORDER BY pos)")}
       |      AS chunk_hash
       |  FROM ${p}cdix GROUP BY doc_id, chunk_idx)""".stripMargin
  }

  private def shinglesExpr(t: String, n: Int): String =
    s"list_distinct(list_transform(range(1, len($t) - ${n - 2}), " +
      s"i -> array_to_string(list_slice($t, i, i + ${n - 1}), ' ')))"

  private def hash56(s: String): String =
    s"('0x' || substr(md5($s), 1, 14))::BIGINT"

  /** q_quality_clf oracle: DuckDB replay of [[graft.text.Classifier]]'s
    * 3 unrolled full-batch GD iterations (the unrolled-Lloyd pattern).
    * Every aggregated quantity is an exact integer — signed hashed
    * counts, 1e-6-grid weights, integer margins — and the per-iteration
    * sigmoid is snapped to the grid right after the exp, so both
    * engines walk the identical weight trajectory. */
  /** Mechanically-unrolled GD oracle for [[graft.text.Classifier.fit]]
    * + classify at any depth: iteration i contributes g_i (gradient)
    * and w_i (weight update) CTEs, with m/e margin CTEs between
    * iterations; the update is w − round(lr·g/n [+ (lr·l2)·w], 0) —
    * the (lr·l2) literal is the exact Scala double printed shortest,
    * so DuckDB parses the identical value and the integer-grid
    * trajectory replays bitwise at every depth. */
  private def qualityClfSql(iters: Int, lr: Double, l2: Double): String =
    s"""WITH ${clfTrainCtes(iters, lr, l2)},
       |${clfScoreCtes(iters, "documents", "cs")}
       |SELECT doc_id, score, predicted
       |FROM cssc ORDER BY doc_id""".stripMargin

  /** Training half of [[qualityClfSql]]: CTE chain (no WITH keyword)
    * ending in `w<iters>` — the 1e-6-grid weight table. Split out so
    * the corpus-pipeline composite can train on the full corpus and
    * SCORE a different (stage-survivor) relation, the pre-trained-
    * model pattern. */
  private def clfTrainCtes(iters: Int, lr: Double, l2: Double): String = {
    val lrl2 = lr * l2
    def upd(i: Int): String =
      if (lrl2 == 0.0) s"round($lr * g$i.g / nn.n, 0)"
      else s"round($lr * g$i.g / nn.n + $lrl2 * w${i - 1}.w, 0)"
    val header =
      s"""WITH tok AS (SELECT doc_id, ${hash56("tk")} AS h FROM
         |  (SELECT doc_id, unnest($toksExpr) AS tk FROM documents)),
         |hv AS (SELECT doc_id, (h % 64)::BIGINT AS dim,
         |  sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS value
         |  FROM tok GROUP BY 1, 2
         |  HAVING sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END) <> 0),
         |feats AS MATERIALIZED (SELECT * FROM hv
         |  UNION ALL SELECT doc_id, 64::BIGINT AS dim, 1::BIGINT AS value
         |  FROM documents),
         |lab AS MATERIALIZED (SELECT doc_id,
         |  (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y FROM documents),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |g1 AS (SELECT f.dim, sum((500000 - lab.y * 1000000) * f.value) AS g
         |  FROM feats f JOIN lab USING (doc_id) GROUP BY 1),
         |w1 AS MATERIALIZED (SELECT dim, (-round($lr * g / n, 0))::BIGINT AS w
         |  FROM g1 CROSS JOIN nn)""".stripMargin
    val laterIters = (2 to iters).map { i =>
      s"""m${i - 1} AS MATERIALIZED (SELECT f.doc_id, sum(w${i - 1}.w * f.value) AS ms
         |  FROM feats f JOIN w${i - 1} USING (dim) GROUP BY 1),
         |e${i - 1} AS (SELECT doc_id,
         |  round(1e6 / (1 + exp(-(ms::DOUBLE) / 1e6)), 0)::BIGINT AS e FROM m${i - 1}),
         |g$i AS (SELECT f.dim, sum((e${i - 1}.e - lab.y * 1000000) * f.value) AS g
         |  FROM feats f JOIN e${i - 1} USING (doc_id) JOIN lab USING (doc_id)
         |  GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT w${i - 1}.dim, (w${i - 1}.w - ${upd(i)})::BIGINT AS w
         |  FROM w${i - 1} JOIN g$i USING (dim) CROSS JOIN nn)""".stripMargin
    }
    (Seq(header.stripPrefix("WITH ")) ++ laterIters).mkString(",\n")
  }

  /** Scoring half: hashed features of `src` (doc_id, text) against the
    * trained `w<iters>` table; ends in `<pfx>sc(doc_id, score,
    * predicted)`. Mirrors Classifier.classify: exact integer margins,
    * sigmoid snapped at 1e-6, threshold compare on the SNAPPED score.
    * Scoring the training corpus itself reuses its `feats` CTE. */
  private def clfScoreCtes(iters: Int, src: String, pfx: String,
      thr: Double = 0.5): String = {
    val (featCte, featSrc) =
      if (src == "documents") ("", "feats")
      else (
        s"""${pfx}fe AS (SELECT doc_id, (h % 64)::BIGINT AS dim,
           |  sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS value
           |  FROM (SELECT doc_id, ${hash56("tk")} AS h FROM
           |    (SELECT doc_id, unnest($toksExpr) AS tk FROM $src))
           |  GROUP BY 1, 2
           |  HAVING sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END) <> 0
           |  UNION ALL SELECT doc_id, 64::BIGINT, 1::BIGINT FROM $src),
           |""".stripMargin, s"${pfx}fe")
    s"""$featCte${pfx}m AS (SELECT f.doc_id, sum(w$iters.w * f.value) AS ms
       |  FROM $featSrc f JOIN w$iters USING (dim) GROUP BY 1),
       |${pfx}sc AS (SELECT doc_id,
       |  round(1.0 / (1 + exp(-(ms::DOUBLE) / 1e6)), 6) AS score,
       |  (CASE WHEN round(1.0 / (1 + exp(-(ms::DOUBLE) / 1e6)), 6) >= $thr
       |    THEN 1 ELSE 0 END)::INT AS predicted
       |  FROM ${pfx}m)""".stripMargin
  }

  /** q_quality_clf_norm oracle: the LENGTH-NORMALIZED (fastText
    * mean-pooling) trajectory of [[qualityClfSql]] — the hashed margin
    * contribution divides by the doc's token count (bias
    * unnormalized), snapped once per doc; the per-(doc,dim) gradient
    * contribution snaps once. Both snaps are single IEEE divisions of
    * exactly-agreed integers + the shared half-away round, so the
    * replay is bitwise at any depth (mirrors
    * [[graft.text.Classifier.fitNorm]]/classifyNorm). */
  private def qualityClfNormSql(iters: Int, lr: Double, l2: Double,
      thr: Double = 0.5): String =
    s"""WITH ${clfNormTrainCtes(iters, lr, l2)},
       |${clfNormScoreCtes(iters, thr)}
       |SELECT doc_id, score, predicted FROM nsc ORDER BY doc_id""".stripMargin

  /** Scoring half of [[qualityClfNormSql]] (no WITH): `nm` margins +
    * `nsc(doc_id, score, predicted)` — split out so the quality-stack
    * composite can reuse the trained normalized model. */
  private def clfNormScoreCtes(iters: Int, thr: Double = 0.5): String = {
    val sig = s"round(1.0 / (1 + exp(-(ms::DOUBLE) / 1e6)), 6)"
    s"""nm AS (${normMarginSql(s"w$iters")}),
       |nsc AS (SELECT doc_id, $sig AS score,
       |  (CASE WHEN $sig >= $thr THEN 1 ELSE 0 END)::INT AS predicted
       |  FROM nm)""".stripMargin
  }

  /** Normalized margin of `feats` against weight table `wt`:
    * bias + round(hashed-sum / token count), token-less docs keep the
    * pure-bias margin (their only row is the bias row, nt = 0). */
  private def normMarginSql(wt: String): String =
    s"""SELECT f.doc_id,
       |  sum(CASE WHEN f.dim = 64 THEN $wt.w * f.value ELSE 0 END)
       |  + (CASE WHEN max(f.nt) > 0 THEN
       |      round(sum(CASE WHEN f.dim <> 64 THEN $wt.w * f.value ELSE 0 END)::DOUBLE
       |        / max(f.nt), 0)::BIGINT
       |     ELSE 0 END) AS ms
       |  FROM feats f JOIN $wt USING (dim) GROUP BY 1""".stripMargin

  /** Training half of [[qualityClfNormSql]]: ends in `w<iters>`.
    * Feature rows carry the doc token count `nt` (0 on the bias row);
    * iteration 1 keeps the e = 500000 zero-weight shortcut. */
  private def clfNormTrainCtes(iters: Int, lr: Double, l2: Double): String = {
    val lrl2 = lr * l2
    def upd(i: Int): String =
      if (lrl2 == 0.0) s"round($lr * g$i.g / nn.n, 0)"
      else s"round($lr * g$i.g / nn.n + $lrl2 * w${i - 1}.w, 0)"
    def gradSql(i: Int, residE: String): String =
      s"""g$i AS (SELECT f.dim, sum(CASE WHEN f.dim = 64
         |    THEN ($residE) * f.value
         |    ELSE round((($residE) * f.value)::DOUBLE / f.nt, 0)::BIGINT END) AS g""".stripMargin
    val header =
      s"""tok AS (SELECT doc_id, ${hash56("tk")} AS h FROM
         |  (SELECT doc_id, unnest($toksExpr) AS tk FROM documents)),
         |hv AS (SELECT doc_id, (h % 64)::BIGINT AS dim,
         |  sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS value
         |  FROM tok GROUP BY 1, 2
         |  HAVING sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END) <> 0),
         |ntk AS (SELECT doc_id, len($toksExpr)::BIGINT AS nt FROM documents),
         |feats AS MATERIALIZED (
         |  SELECT hv.doc_id, hv.dim, hv.value, ntk.nt FROM hv JOIN ntk USING (doc_id)
         |  UNION ALL SELECT doc_id, 64::BIGINT AS dim, 1::BIGINT AS value,
         |    0::BIGINT AS nt FROM documents),
         |lab AS MATERIALIZED (SELECT doc_id,
         |  (CASE WHEN len(list_filter($toksExpr, x -> x IN ('the', 'a'))) * 1000
         |        >= 61 * len($toksExpr) THEN 1 ELSE 0 END)::BIGINT AS y
         |  FROM documents),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |${gradSql(1, "500000 - lab.y * 1000000")}
         |  FROM feats f JOIN lab USING (doc_id) GROUP BY 1),
         |w1 AS MATERIALIZED (SELECT dim, (-round($lr * g / n, 0))::BIGINT AS w
         |  FROM g1 CROSS JOIN nn)""".stripMargin
    val laterIters = (2 to iters).map { i =>
      s"""m${i - 1} AS MATERIALIZED (${normMarginSql(s"w${i - 1}")}),
         |e${i - 1} AS (SELECT doc_id,
         |  round(1e6 / (1 + exp(-(ms::DOUBLE) / 1e6)), 0)::BIGINT AS e FROM m${i - 1}),
         |${gradSql(i, s"e${i - 1}.e - lab.y * 1000000")}
         |  FROM feats f JOIN e${i - 1} USING (doc_id) JOIN lab USING (doc_id)
         |  GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT w${i - 1}.dim, (w${i - 1}.w - ${upd(i)})::BIGINT AS w
         |  FROM w${i - 1} JOIN g$i USING (dim) CROSS JOIN nn)""".stripMargin
    }
    (Seq(header) ++ laterIters).mkString(",\n")
  }

  /** CTE chain of the KN-bigram LM stage (no WITH), parametrized over
    * the TRAINING and SCORING relations — both must expose (doc_id,
    * text) — with an optional CTE-name prefix so the fragment composes
    * inside larger oracles (the pageRankChain pattern). Ends in
    * `<p>fin(doc_id, n, s, ppl, bucket)` over the scored docs, with
    * perplexity terciles cut over the SCORING population. Shared by
    * q_lm_ppl, the quality-stack composite, and the corpus pipeline
    * (which trains on the held corpus and scores gate survivors). */
  private def lmChainCtes(trainRel: String, scoreRel: String,
      p: String = ""): String =
    s"""${p}ttk AS (SELECT $toksExpr AS toks FROM $trainRel),
         |${p}tbg AS (SELECT
         |    CASE WHEN pos = 0 THEN '<s>' ELSE toks[pos] END AS w1,
         |    toks[pos + 1] AS w2
         |  FROM (SELECT toks, unnest(range(len(toks))) AS pos
         |        FROM ${p}ttk WHERE len(toks) > 0)),
         |${p}trbg AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM ${p}tbg
         |  GROUP BY 1, 2),
         |${p}ctx AS (SELECT w1, sum(c12)::BIGINT AS c1, count(*)::BIGINT AS n1p
         |  FROM ${p}trbg GROUP BY 1),
         |${p}cont AS (SELECT w2, count(*)::BIGINT AS nc FROM ${p}trbg GROUP BY 1),
         |${p}tot AS (SELECT count(*)::BIGINT AS nn,
         |  count(DISTINCT w2)::BIGINT AS v FROM ${p}trbg),
         |${p}stk AS (SELECT doc_id, $toksExpr AS toks FROM $scoreRel),
         |${p}sbg AS (SELECT doc_id,
         |    CASE WHEN pos = 0 THEN '<s>' ELSE toks[pos] END AS w1,
         |    toks[pos + 1] AS w2
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
         |        FROM ${p}stk WHERE len(toks) > 0)),
         |${p}sc AS (SELECT b.doc_id,
         |    round(ln(CASE WHEN c.c1 IS NOT NULL THEN
         |        (greatest(coalesce(t.c12, 0)::DOUBLE - 0.75, 0.0)
         |          + 0.75 * c.n1p *
         |            ((coalesce(k.nc, 0) + 1)::DOUBLE / (tot.nn + tot.v + 1)))
         |        / c.c1
         |      ELSE (coalesce(k.nc, 0) + 1)::DOUBLE / (tot.nn + tot.v + 1)
         |      END) * 1e6, 0)::BIGINT AS lp
         |  FROM ${p}sbg b LEFT JOIN ${p}trbg t ON b.w1 = t.w1 AND b.w2 = t.w2
         |  LEFT JOIN ${p}ctx c ON b.w1 = c.w1
         |  LEFT JOIN ${p}cont k ON b.w2 = k.w2
         |  CROSS JOIN ${p}tot tot),
         |${p}ds AS (SELECT doc_id, count(*)::BIGINT AS n, sum(lp)::BIGINT AS s
         |  FROM ${p}sc GROUP BY 1),
         |${p}rt AS (SELECT doc_id, n, s,
         |    (CASE WHEN s * 1000 < 0 THEN -1 ELSE 1 END)
         |      * ((2 * abs(s * 1000) + n) // (2 * n)) AS rate FROM ${p}ds),
         |${p}hc AS (SELECT rate AS v, count(*)::BIGINT AS c FROM ${p}rt GROUP BY 1),
         |${p}hr AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |        AS rb, c FROM ${p}hc),
         |${p}hn AS (SELECT sum(c)::BIGINT AS n FROM ${p}hc),
         |${p}ks AS (SELECT j, greatest(1, (j * n + 2) // 3)::BIGINT AS rank
         |  FROM (SELECT unnest([1, 2]) AS j) CROSS JOIN ${p}hn),
         |${p}ct AS (SELECT
         |    max(CASE WHEN j = 1 THEN v END) AS c33,
         |    max(CASE WHEN j = 2 THEN v END) AS c67
         |  FROM ${p}ks kk JOIN ${p}hr hr ON hr.rb < kk.rank
         |    AND kk.rank <= hr.rb + hr.c),
         |${p}fin AS (SELECT rt.doc_id, rt.n, rt.s,
         |    round(exp(rt.s::DOUBLE * -1.0 / 1e6 / rt.n), 6) AS ppl,
         |    CASE WHEN rt.rate <= ct.c33 THEN 'tail'
         |         WHEN rt.rate <= ct.c67 THEN 'middle' ELSE 'head' END AS bucket
         |  FROM ${p}rt rt CROSS JOIN ${p}ct ct)""".stripMargin

  /** The q_lm_ppl / quality-stack instantiation: train on the
    * doc_id%3==0 third, score the whole corpus, unprefixed names. */
  private def lmPplCtes: String = lmChainCtes(
    "(SELECT text FROM documents WHERE doc_id % 3 = 0)", "documents")

  /** CTE chain of the interpolated Kneser-Ney TRIGRAM stage (round 13
    * — LmPerplexity.score3/buckets3 replayed CTE-for-CTE): the trigram
    * stream pads two `<s>` BOS markers, the seen-context branch
    * discounts trigram counts and re-spends the freed mass on the
    * EXACT bigram model of [[lmChainCtes]] (the (w2, w3) pairs of the
    * trigram stream ARE the bigram stream), the unseen branch falls
    * through to it, and the one ln snaps at 1e-6. Ends in
    * `fin3(doc_id, n, s, ppl, bucket)`. */
  private def lm3ChainCtes(trainRel: String, scoreRel: String): String =
    s"""t3k AS (SELECT $toksExpr AS toks FROM $trainRel),
         |t3g AS (SELECT
         |    CASE WHEN pos <= 1 THEN '<s>' ELSE toks[pos - 1] END AS w1,
         |    CASE WHEN pos = 0 THEN '<s>' ELSE toks[pos] END AS w2,
         |    toks[pos + 1] AS w3
         |  FROM (SELECT toks, unnest(range(len(toks))) AS pos
         |        FROM t3k WHERE len(toks) > 0)),
         |tr3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c123 FROM t3g
         |  GROUP BY 1, 2, 3),
         |cx3 AS (SELECT w1, w2, sum(c123)::BIGINT AS c12,
         |  count(*)::BIGINT AS n3p FROM tr3 GROUP BY 1, 2),
         |bg3 AS (SELECT w2 AS w1, w3 AS w2, count(*)::BIGINT AS c23
         |  FROM t3g GROUP BY 1, 2),
         |cx2 AS (SELECT w1, sum(c23)::BIGINT AS c1, count(*)::BIGINT AS n1p
         |  FROM bg3 GROUP BY 1),
         |cn3 AS (SELECT w2, count(*)::BIGINT AS nc FROM bg3 GROUP BY 1),
         |to3 AS (SELECT count(*)::BIGINT AS nn,
         |  count(DISTINCT w2)::BIGINT AS v FROM bg3),
         |s3k AS (SELECT doc_id, $toksExpr AS toks FROM $scoreRel),
         |s3g AS (SELECT doc_id,
         |    CASE WHEN pos <= 1 THEN '<s>' ELSE toks[pos - 1] END AS w1,
         |    CASE WHEN pos = 0 THEN '<s>' ELSE toks[pos] END AS w2,
         |    toks[pos + 1] AS w3
         |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
         |        FROM s3k WHERE len(toks) > 0)),
         |sc3 AS (SELECT b.doc_id,
         |    round(ln(CASE WHEN c3.c12 IS NOT NULL THEN
         |        (greatest(coalesce(t3.c123, 0)::DOUBLE - 0.75, 0.0)
         |          + 0.75 * c3.n3p *
         |            (CASE WHEN c2.c1 IS NOT NULL THEN
         |              (greatest(coalesce(g3.c23, 0)::DOUBLE - 0.75, 0.0)
         |                + 0.75 * c2.n1p *
         |                  ((coalesce(k3.nc, 0) + 1)::DOUBLE
         |                    / (tt.nn + tt.v + 1)))
         |              / c2.c1
         |            ELSE (coalesce(k3.nc, 0) + 1)::DOUBLE
         |              / (tt.nn + tt.v + 1) END))
         |        / c3.c12
         |      WHEN c2.c1 IS NOT NULL THEN
         |        (greatest(coalesce(g3.c23, 0)::DOUBLE - 0.75, 0.0)
         |          + 0.75 * c2.n1p *
         |            ((coalesce(k3.nc, 0) + 1)::DOUBLE / (tt.nn + tt.v + 1)))
         |        / c2.c1
         |      ELSE (coalesce(k3.nc, 0) + 1)::DOUBLE / (tt.nn + tt.v + 1)
         |      END) * 1e6, 0)::BIGINT AS lp
         |  FROM s3g b
         |  LEFT JOIN tr3 t3 ON b.w1 = t3.w1 AND b.w2 = t3.w2 AND b.w3 = t3.w3
         |  LEFT JOIN cx3 c3 ON b.w1 = c3.w1 AND b.w2 = c3.w2
         |  LEFT JOIN bg3 g3 ON b.w2 = g3.w1 AND b.w3 = g3.w2
         |  LEFT JOIN cx2 c2 ON b.w2 = c2.w1
         |  LEFT JOIN cn3 k3 ON b.w3 = k3.w2
         |  CROSS JOIN to3 tt),
         |ds3 AS (SELECT doc_id, count(*)::BIGINT AS n, sum(lp)::BIGINT AS s
         |  FROM sc3 GROUP BY 1),
         |rt3 AS (SELECT doc_id, n, s,
         |    (CASE WHEN s * 1000 < 0 THEN -1 ELSE 1 END)
         |      * ((2 * abs(s * 1000) + n) // (2 * n)) AS rate FROM ds3),
         |hc3 AS (SELECT rate AS v, count(*)::BIGINT AS c FROM rt3 GROUP BY 1),
         |hr3 AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |        AS rb, c FROM hc3),
         |hn3 AS (SELECT sum(c)::BIGINT AS n FROM hc3),
         |ks3 AS (SELECT j, greatest(1, (j * n + 2) // 3)::BIGINT AS rank
         |  FROM (SELECT unnest([1, 2]) AS j) CROSS JOIN hn3),
         |ct3 AS (SELECT
         |    max(CASE WHEN j = 1 THEN v END) AS c33,
         |    max(CASE WHEN j = 2 THEN v END) AS c67
         |  FROM ks3 kk JOIN hr3 hr ON hr.rb < kk.rank
         |    AND kk.rank <= hr.rb + hr.c),
         |fin3 AS (SELECT rt3.doc_id, rt3.n, rt3.s,
         |    round(exp(rt3.s::DOUBLE * -1.0 / 1e6 / rt3.n), 6) AS ppl,
         |    CASE WHEN rt3.rate <= ct3.c33 THEN 'tail'
         |         WHEN rt3.rate <= ct3.c67 THEN 'middle' ELSE 'head' END
         |      AS bucket
         |  FROM rt3 CROSS JOIN ct3)""".stripMargin

  /** The q_lm_ppl3 instantiation: same train/score split as q_lm_ppl. */
  private def lm3PplCtes: String = lm3ChainCtes(
    "(SELECT text FROM documents WHERE doc_id % 3 = 0)", "documents")

  /** ORDER-GENERIC Kneser-Ney CTE chain (round 14 —
    * [[graft.text.LmPerplexity.scoreN]]/bucketsN replayed CTE-for-CTE
    * at any n; the CCNet-published config is n = 5): one order-n
    * training stream feeds every count table (the last m columns ARE
    * the order-m stream — the BOS pad telescopes), the probability is
    * the nested seen/unseen CASE chain bottoming in the add-one
    * continuation floor (each branch the exact IEEE expression shape
    * of the Spark kernel), the one ln snaps at 1e-6, and the tercile
    * tail is the shared exact-quantiles replay. Ends in
    * `q<n>fin(doc_id, n, s, ppl, bucket)`. */
  private def lmNChainCtes(n: Int, trainRel: String,
      scoreRel: String): String = {
    val P = s"q$n"
    def wExpr(j: Int): String = {
      val shift = n - j
      if (shift == 0) s"toks[pos + 1] AS w$j"
      else if (shift == 1) s"CASE WHEN pos = 0 THEN '<s>' ELSE toks[pos] END AS w$j"
      else s"CASE WHEN pos <= ${shift - 1} THEN '<s>' " +
        s"ELSE toks[pos - ${shift - 1}] END AS w$j"
    }
    def gcols(m: Int): Seq[String] = ((n - m + 1) to n).map(j => s"w$j")
    val streamCols = (1 to n).map(wExpr).mkString(",\n    ")
    val grams = (2 to n).map { m =>
      val ks = gcols(m)
      val ctxKs = ks.dropRight(1)
      s"""${P}g$m AS (SELECT ${ks.mkString(", ")}, count(*)::BIGINT AS g
         |  FROM ${P}tg GROUP BY ${ks.indices.map(_ + 1).mkString(", ")}),
         |${P}x$m AS (SELECT ${ctxKs.mkString(", ")}, sum(g)::BIGINT AS c,
         |  count(*)::BIGINT AS np
         |  FROM ${P}g$m GROUP BY ${ctxKs.indices.map(_ + 1).mkString(", ")})"""
        .stripMargin
    }.mkString(",\n")
    // the nested backoff CASE, bottom-up: order 1 = continuation floor
    def pOf(m: Int): String =
      if (m == 1) s"(coalesce(cn.nc, 0) + 1)::DOUBLE / (tt.nn + tt.v + 1)"
      else {
        val inner = pOf(m - 1)
        s"""CASE WHEN x$m.c IS NOT NULL THEN
           |        (greatest(coalesce(g$m.g, 0)::DOUBLE - 0.75, 0.0)
           |          + 0.75 * x$m.np * ($inner)) / x$m.c
           |      ELSE $inner END""".stripMargin
      }
    val joins = (n to 2 by -1).map { m =>
      val on = gcols(m).map(k => s"b.$k = g$m.$k").mkString(" AND ")
      val onX = gcols(m).dropRight(1).map(k => s"b.$k = x$m.$k")
        .mkString(" AND ")
      s"""  LEFT JOIN ${P}g$m g$m ON $on
         |  LEFT JOIN ${P}x$m x$m ON $onX""".stripMargin
    }.mkString("\n")
    s"""${P}tk AS (SELECT $toksExpr AS toks FROM $trainRel),
       |${P}tg AS (SELECT
       |    $streamCols
       |  FROM (SELECT toks, unnest(range(len(toks))) AS pos
       |        FROM ${P}tk WHERE len(toks) > 0)),
       |$grams,
       |${P}cn AS (SELECT w$n, count(*)::BIGINT AS nc FROM ${P}g2 GROUP BY 1),
       |${P}tt AS (SELECT count(*)::BIGINT AS nn,
       |  count(DISTINCT w$n)::BIGINT AS v FROM ${P}g2),
       |${P}sk AS (SELECT doc_id, $toksExpr AS toks FROM $scoreRel),
       |${P}sg AS (SELECT doc_id,
       |    $streamCols
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS pos
       |        FROM ${P}sk WHERE len(toks) > 0)),
       |${P}sc AS (SELECT b.doc_id,
       |    round(ln(${pOf(n)}) * 1e6, 0)::BIGINT AS lp
       |  FROM ${P}sg b
       |$joins
       |  LEFT JOIN ${P}cn cn ON b.w$n = cn.w$n
       |  CROSS JOIN ${P}tt tt),
       |${P}ds AS (SELECT doc_id, count(*)::BIGINT AS n, sum(lp)::BIGINT AS s
       |  FROM ${P}sc GROUP BY 1),
       |${P}rt AS (SELECT doc_id, n, s,
       |    (CASE WHEN s * 1000 < 0 THEN -1 ELSE 1 END)
       |      * ((2 * abs(s * 1000) + n) // (2 * n)) AS rate FROM ${P}ds),
       |${P}hc AS (SELECT rate AS v, count(*)::BIGINT AS c FROM ${P}rt
       |  GROUP BY 1),
       |${P}hr AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |        AS rb, c FROM ${P}hc),
       |${P}hn AS (SELECT sum(c)::BIGINT AS n FROM ${P}hc),
       |${P}ks AS (SELECT j, greatest(1, (j * n + 2) // 3)::BIGINT AS rank
       |  FROM (SELECT unnest([1, 2]) AS j) CROSS JOIN ${P}hn),
       |${P}ct AS (SELECT
       |    max(CASE WHEN j = 1 THEN v END) AS c33,
       |    max(CASE WHEN j = 2 THEN v END) AS c67
       |  FROM ${P}ks kk JOIN ${P}hr hr ON hr.rb < kk.rank
       |    AND kk.rank <= hr.rb + hr.c),
       |${P}fin AS (SELECT rt.doc_id, rt.n, rt.s,
       |    round(exp(rt.s::DOUBLE * -1.0 / 1e6 / rt.n), 6) AS ppl,
       |    CASE WHEN rt.rate <= ct.c33 THEN 'tail'
       |         WHEN rt.rate <= ct.c67 THEN 'middle' ELSE 'head' END
       |      AS bucket
       |  FROM ${P}rt rt CROSS JOIN ${P}ct ct)""".stripMargin
  }

  /** The scrub-stack replay chain shared by q_scrub_stack and
    * q_scrub_prov: the leftmost-longest canon walk, both gate
    * families on the canonical text, and the two chained span-union
    * redactions, ending in `scard(doc_id, n_canon, n_lit_hits,
    * n_lit_patterns, n_rx_hits, n_rx_patterns, n_masked_lit,
    * n_masked_rx, clean, ft)` — the per-doc card with the final
    * scrubbed text. Callers prefix `WITH RECURSIVE `. */
  private def scrubStackCtes: String =
    s"""maps(pid, pat, rep) AS (VALUES
         |  (0, 'table', 'TBL'), (1, 'ta', 'tX'), (2, 'le', 'lY')),
         |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
         |cst AS MATERIALIZED (SELECT doc_id, pid, pat, rep, text,
         |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
         |  FROM d CROSS JOIN maps),
         |cmt AS (SELECT doc_id, s, pid, rep, length(pat) AS k FROM cst
         |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
         |cbest AS MATERIALIZED (SELECT doc_id, s, k, rep FROM (
         |  SELECT doc_id, s, k, rep, row_number() OVER (
         |    PARTITION BY doc_id, s ORDER BY k DESC, pid) AS rn FROM cmt) b
         |  WHERE rn = 1),
         |cwalk(doc_id, pos, acc, nrep) AS (
         |  SELECT doc_id, 0::BIGINT AS pos, '' AS acc, 0::BIGINT AS nrep
         |  FROM d
         |  UNION ALL
         |  SELECT w.doc_id,
         |    CASE WHEN b.s IS NULL THEN length(d.text)::BIGINT
         |      ELSE b.s + b.k END,
         |    w.acc || CASE WHEN b.s IS NULL
         |      THEN substr(d.text, (w.pos + 1)::INT)
         |      ELSE substr(d.text, (w.pos + 1)::INT, (b.s - w.pos)::INT) ||
         |        b.rep END,
         |    w.nrep + CASE WHEN b.s IS NULL THEN 0 ELSE 1 END
         |  FROM cwalk w JOIN d ON d.doc_id = w.doc_id
         |  LEFT JOIN cbest b ON b.doc_id = w.doc_id AND b.s >= w.pos
         |  WHERE w.pos < length(d.text)
         |  QUALIFY row_number() OVER (PARTITION BY w.doc_id, w.pos
         |    ORDER BY b.s NULLS LAST) = 1),
         |cfin AS (SELECT w.doc_id, w.acc, w.nrep FROM cwalk w
         |  JOIN d ON d.doc_id = w.doc_id WHERE w.pos >= length(d.text)),
         |cn AS (SELECT d.doc_id, coalesce(f.acc, '') AS ct,
         |  coalesce(f.nrep, 0)::BIGINT AS n_canon
         |  FROM d LEFT JOIN cfin f ON f.doc_id = d.doc_id),
         |lpats(pid, pat) AS (VALUES
         |  (0, 'TBL'), (1, 'tX'), (2, 'a a'), (3, 'table'),
         |  (4, 'agg'), (5, 'zzqx')),
         |lst AS MATERIALIZED (SELECT doc_id, pid, pat, ct,
         |  unnest(range(greatest(length(ct) - length(pat) + 1, 0))) AS s
         |  FROM cn CROSS JOIN lpats),
         |lcnt AS (SELECT doc_id, pid,
         |  sum(CASE WHEN substr(ct, (s + 1)::INT, length(pat)::INT) = pat
         |      THEN 1 ELSE 0 END)::BIGINT AS n
         |  FROM lst GROUP BY 1, 2),
         |lagg AS (SELECT cn.doc_id,
         |  coalesce(sum(l.n), 0)::BIGINT AS n_lit_hits,
         |  coalesce(sum(CASE WHEN l.n > 0 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_lit_patterns
         |  FROM cn LEFT JOIN lcnt l ON l.doc_id = cn.doc_id GROUP BY 1),
         |rpats(pid, pat) AS (VALUES $scrubRxValues),
         |rst AS MATERIALIZED (SELECT doc_id, pid, pat, ct,
         |  unnest(range(length(ct))) AS s FROM cn CROSS JOIN rpats),
         |rcnt AS (SELECT doc_id, pid,
         |  sum(CASE WHEN length(regexp_extract(substr(ct, (s + 1)::INT),
         |      '^(' || pat || ')')) > 0 THEN 1 ELSE 0 END)::BIGINT AS n
         |  FROM rst GROUP BY 1, 2),
         |ragg AS (SELECT cn.doc_id,
         |  coalesce(sum(r.n), 0)::BIGINT AS n_rx_hits,
         |  coalesce(sum(CASE WHEN r.n > 0 THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_rx_patterns
         |  FROM cn LEFT JOIN rcnt r ON r.doc_id = cn.doc_id GROUP BY 1),
         |lmt AS (SELECT doc_id, s, length(pat) AS k FROM lst
         |  WHERE substr(ct, (s + 1)::INT, length(pat)::INT) = pat),
         |lcov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM lmt),
         |lcov AS (SELECT DISTINCT doc_id, s + o AS p FROM lcov0),
         |lch AS (SELECT doc_id, ct, unnest(range(length(ct))) AS i FROM cn),
         |r1 AS (SELECT lch.doc_id,
         |  string_agg(CASE WHEN lcov.p IS NOT NULL THEN '*'
         |    ELSE substr(lch.ct, (lch.i + 1)::INT, 1) END, ''
         |    ORDER BY lch.i) AS rt,
         |  sum(CASE WHEN lcov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_masked_lit
         |  FROM lch LEFT JOIN lcov ON lcov.doc_id = lch.doc_id
         |    AND lcov.p = lch.i
         |  GROUP BY 1),
         |r1f AS (SELECT cn.doc_id, coalesce(r1.rt, cn.ct) AS rt,
         |  coalesce(r1.n_masked_lit, 0)::BIGINT AS n_masked_lit
         |  FROM cn LEFT JOIN r1 ON r1.doc_id = cn.doc_id),
         |xst AS MATERIALIZED (SELECT doc_id, pat, rt,
         |  unnest(range(length(rt))) AS s FROM r1f CROSS JOIN rpats),
         |xmt AS (SELECT doc_id, s,
         |  length(regexp_extract(substr(rt, (s + 1)::INT),
         |    '^(' || pat || ')')) AS k FROM xst
         |  WHERE length(regexp_extract(substr(rt, (s + 1)::INT),
         |    '^(' || pat || ')')) > 0),
         |xcov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM xmt),
         |xcov AS (SELECT DISTINCT doc_id, s + o AS p FROM xcov0),
         |xch AS (SELECT doc_id, rt, unnest(range(length(rt))) AS i
         |  FROM r1f),
         |r2 AS (SELECT xch.doc_id,
         |  string_agg(CASE WHEN xcov.p IS NOT NULL THEN '*'
         |    ELSE substr(xch.rt, (xch.i + 1)::INT, 1) END, ''
         |    ORDER BY xch.i) AS ft,
         |  sum(CASE WHEN xcov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_masked_rx
         |  FROM xch LEFT JOIN xcov ON xcov.doc_id = xch.doc_id
         |    AND xcov.p = xch.i
         |  GROUP BY 1),
         |r2f AS (SELECT r1f.doc_id, coalesce(r2.ft, r1f.rt) AS ft,
         |  coalesce(r2.n_masked_rx, 0)::BIGINT AS n_masked_rx
         |  FROM r1f LEFT JOIN r2 ON r2.doc_id = r1f.doc_id),
       |scard AS (SELECT cn.doc_id, cn.n_canon, la.n_lit_hits,
       |  la.n_lit_patterns, ra.n_rx_hits, ra.n_rx_patterns,
       |  r1f.n_masked_lit, r2f.n_masked_rx,
       |  (la.n_lit_hits = 0 AND ra.n_rx_hits = 0) AS clean, r2f.ft
       |  FROM cn JOIN lagg la USING (doc_id) JOIN ragg ra USING (doc_id)
       |  JOIN r1f USING (doc_id) JOIN r2f USING (doc_id))""".stripMargin

  /** The q_lm_ppl5 instantiation: same train/score split as q_lm_ppl. */
  private def lm5PplCtes: String = lmNChainCtes(5,
    "(SELECT text FROM documents WHERE doc_id % 3 = 0)", "documents")

  /** q_pagerank oracle: the integer-exact picorank power iteration of
    * [[graft.operators.PageRank]] unrolled CTE-for-CTE (the
    * Lloyd/GD precedent) — per iteration the inbound share sum
    * (truncating `//` on non-negative longs ≡ Spark `div`), the
    * dangling-mass scalar, and the damped update, all on the 1e-12
    * mass grid. */
  /** Generic PageRank iteration chain (no WITH): expects upstream CTEs
    * `prnodes(node)`, `edges(src, dst)`, and `prn(n)` (the node
    * count); contributes deg/r0 and sh/dg/r per iteration, ending in
    * `r<iters>`. Shared by q_pagerank and the frontier composite. */
  private def pageRankChain(iters: Int): String = {
    val M = "1000000000000"
    val header =
      s"""deg AS (SELECT src, count(*)::BIGINT AS c FROM edges GROUP BY 1),
         |r0 AS (SELECT node, $M // n AS r FROM prnodes CROSS JOIN prn)""".stripMargin
    val its = (1 to iters).map { i =>
      s"""sh$i AS (SELECT e.dst AS node, sum(p.r // d.c)::BIGINT AS inm
         |  FROM edges e JOIN r${i - 1} p ON e.src = p.node
         |  JOIN deg d ON e.src = d.src GROUP BY 1),
         |dg$i AS (SELECT coalesce(sum(p.r), 0)::BIGINT AS dang
         |  FROM r${i - 1} p LEFT JOIN deg d ON p.node = d.src
         |  WHERE d.src IS NULL),
         |r$i AS MATERIALIZED (SELECT n0.node,
         |    ((15 * $M // 100) // prn.n
         |      + 85 * (coalesce(s.inm, 0) + dg.dang // prn.n) // 100)::BIGINT AS r
         |  FROM prnodes n0
         |  LEFT JOIN sh$i s USING (node)
         |  CROSS JOIN dg$i dg CROSS JOIN prn)""".stripMargin
    }
    (Seq(header) ++ its).mkString(",\n")
  }

  private def pageRankSql(iters: Int): String =
    s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
       |tk AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |ed0 AS (SELECT doc_id AS src, (${hash56("t")}) % nn.n AS dst
       |  FROM (SELECT doc_id, unnest(list_slice(toks, 1, 3)) AS t FROM tk)
       |  CROSS JOIN nn),
       |edges AS (SELECT DISTINCT ed0.src, ed0.dst
       |  FROM ed0 JOIN documents d2 ON ed0.dst = d2.doc_id
       |  WHERE ed0.src <> ed0.dst),
       |prnodes AS (SELECT doc_id AS node FROM documents),
       |prn AS (SELECT count(*)::BIGINT AS n FROM prnodes),
       |${pageRankChain(iters)}
       |SELECT node AS doc_id, r AS rank_pico, r::DOUBLE / 1e12 AS rank
       |FROM r$iters ORDER BY doc_id""".stripMargin

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** Expected WET normal form of the corpus-pipeline wrapper (the
    * q_wet_extract oracle pattern with the id-free 'Crawl' header):
    * visible blocks + whitespace-normalized text lines, joined by
    * newlines. */
  private def wetFormSql(textExpr: String): String =
    s"""array_to_string(list_filter(
       |    ['Crawl',
       |     array_to_string(list_filter(list_transform(
       |        string_split($textExpr, chr(10)),
       |        l -> trim(regexp_replace(l, '[ \\t\\x0B\\f\\r]+', ' ', 'g'), ' ')),
       |        l -> l <> ''), chr(10)),
       |     'footer &copy; corp'], x -> x <> ''), chr(10))""".stripMargin

  /** Unrolled-Lloyd CTE chain replaying [[graft.vector.Ivf]]'s exact
    * fixed-point k-means: expects CTEs `eqs(vec_id, d, q)` (quantized
    * sample components) and `c0(cell, d, q)` (init centroids) upstream,
    * and ends in `c<iters>`. Integer distances, argmin ties toward the
    * lower cell, half-up floor-division centroid snaps; empty cells
    * keep their previous centroid (the coalesce). Shared by the IVF
    * ANN and SemDeDup oracles. */
  private def lloydChain(iters: Int, pfx: String = ""): String =
    (1 to iters).map { i =>
      val p = s"${pfx}c${i - 1}"
      s"""${pfx}d$i AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM ${pfx}eqs v JOIN $p c ON v.d = c.d GROUP BY 1, 2),
         |${pfx}a$i AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM ${pfx}d$i) WHERE rn = 1),
         |${pfx}n$i AS (SELECT cell, d,
         |    floor((2 * sum(q) + count(*))::DOUBLE / (2 * count(*)))::BIGINT AS q
         |  FROM ${pfx}eqs JOIN ${pfx}a$i USING (vec_id) GROUP BY 1, 2),
         |${pfx}c$i AS (SELECT p.cell, p.d, coalesce(u.q, p.q) AS q
         |  FROM $p p LEFT JOIN ${pfx}n$i u ON u.cell = p.cell AND u.d = p.d)""".stripMargin
    }.mkString(",\n")

  /** Shared PQ oracle fragments (m=8 subspaces x 8 dims, k=16 codes,
    * 3 Lloyd iterations over the trainCap hash-sample): sample + init
    * CTEs, per-subspace chains ending in `s<i>asg`/`s<i>dall`, and the
    * long-form code/distance unions. Used by the flat-ADC and IVFADC
    * oracles. */
  private val pqSharedCtes: String =
    """cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
      |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
      |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
      |init AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
      |  FROM samp ORDER BY vec_id LIMIT 16)""".stripMargin

  private val pqSubChains: String = {
    val m = 8; val subDim = 8; val iters = 3
    (0 until m).map { s =>
      val off = s * subDim
      s"""s${s}eqs AS (SELECT vec_id, d,
         |    round(embedding[$off + d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range($subDim) t(d)),
         |s${s}c0 AS (SELECT i.cell, e.d, e.q
         |  FROM init i JOIN s${s}eqs e USING (vec_id)),
         |${lloydChain(iters, s"s$s")},
         |s${s}eqa AS (SELECT vec_id, d,
         |    round(embedding[$off + d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range($subDim) t(d)),
         |s${s}dall AS (SELECT v.vec_id, c.cell,
         |    sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM s${s}eqa v JOIN s${s}c$iters c ON v.d = c.d GROUP BY 1, 2),
         |s${s}asg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM s${s}dall) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
  }

  private val pqCodesLong: String = (0 until 8)
    .map(s => s"SELECT vec_id, $s AS s, cell FROM s${s}asg")
    .mkString("\nUNION ALL\n")

  private val pqQdLong: String = (0 until 8)
    .map(s => s"SELECT vec_id, $s AS s, cell, dist FROM s${s}dall WHERE vec_id < 20")
    .mkString("\nUNION ALL\n")

  /** Gopher-rule CTE chain ending in `gq(doc_id, ..., quality_pass)` —
    * shared by the gopher-rules and curation oracles. CTE names are
    * g-prefixed so the fragment composes with [[jaccardCtes]]. */
  private def gopherCtes: String = gopherCtes("documents")

  /** [[gopherCtes]] over an arbitrary (doc_id, text) relation — the
    * corpus-pipeline composite scores gate survivors, not the raw
    * table. */
  private def gopherCtes(src: String): String = {
    val sw = sqlList(TextStats.EnglishStopwords)
    s"""gt AS (SELECT doc_id, text, $toksExpr AS toks FROM $src),
       |grep AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS tf FROM (
       |  SELECT doc_id, g, count(*) AS c FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |      i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
       |    FROM gt WHERE len(toks) >= 2)
       |  GROUP BY 1, 2) GROUP BY doc_id),
       |gs AS (SELECT doc_id,
       |  len(toks)::BIGINT AS n_words,
       |  round((length(text)::DOUBLE - (len(toks) - 1.0)) / len(toks), 9)
       |    AS mean_word_len,
       |  round(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
       |    / len(toks), 9) AS frac_alpha_words,
       |  len(list_filter($sw, x -> list_contains(toks, x)))::BIGINT
       |    AS n_stop_distinct,
       |  round(((length(text) - length(regexp_replace(text, '#', '', 'g')))
       |    + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3.0)
       |    / len(toks)::DOUBLE, 9) AS symbol_word_ratio,
       |  round(coalesce(tf, 0.0), 9) AS top2gram_frac
       |  FROM gt LEFT JOIN grep USING (doc_id)),
       |gfl AS (SELECT *,
       |  (CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)::BIGINT AS r_wordcount,
       |  (CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0 THEN 1 ELSE 0 END)::BIGINT AS r_wordlen,
       |  (CASE WHEN symbol_word_ratio <= 0.1 THEN 1 ELSE 0 END)::BIGINT AS r_symbol,
       |  (CASE WHEN frac_alpha_words >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS r_alpha,
       |  (CASE WHEN n_stop_distinct >= 2 THEN 1 ELSE 0 END)::BIGINT AS r_stop,
       |  (CASE WHEN top2gram_frac <= 0.2 THEN 1 ELSE 0 END)::BIGINT AS r_rep
       |  FROM gs),
       |gq AS (SELECT *,
       |  r_wordcount * r_wordlen * r_symbol * r_alpha * r_stop * r_rep
       |    AS quality_pass
       |  FROM gfl)""".stripMargin
  }

  /** Inverted-index exact-Jaccard pair CTE chain ending in
    * `j(doc_a, doc_b, jaccard)` — shared by the pair and cluster
    * oracles. */
  private def jaccardCtes: String =
    s"""t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
       |sh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM t),
       |sh2 AS (SELECT id, s, len(s) AS sz FROM sh WHERE len(s) > 0),
       |posts AS (SELECT id, unnest(s) AS g FROM sh2),
       |kept AS (SELECT id, g FROM (
       |  SELECT id, g, count(*) OVER (PARTITION BY g) AS df FROM posts)
       |  WHERE df <= 100),
       |common AS (SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS c
       |  FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id GROUP BY 1, 2),
       |j AS (SELECT doc_a, doc_b,
       |  round(c::DOUBLE / (sa.sz + sb.sz - c), 9) AS jaccard
       |  FROM common JOIN sh2 sa ON sa.id = doc_a JOIN sh2 sb ON sb.id = doc_b)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 100000, text FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // table profile replay: exact counts/min/max per column (stats
    // branches) + the per-column HLL chain over the type-canonical
    // keys — scaled-long strings for numerics (cross-engine stable
    // where raw double stringification is not), epoch-micros for
    // timestamps, raw strings otherwise
    "q_profile" -> {
      val aM2 = graft.stats.Hll.alpha(1024) * 1024.0 * 1024.0
      val scale = math.pow(2.0, 47.0)
      val raw = s"round($aM2 * $scale / CAST(st AS DOUBLE), 6)"
      val colsSpec = Seq(
        ("l_extendedprice", "num"), ("l_quantity", "num"),
        ("l_returnflag", "str"), ("l_shipdate", "time"),
        ("l_suppkey", "num"))
      val keyBranches = colsSpec.map { case (c, kind) =>
        val k = kind match {
          case "num" => s"CAST(round($c * 1e6) AS BIGINT)::VARCHAR"
          case "time" => s"epoch_us($c)::VARCHAR"
          case _ => c
        }
        s"SELECT '$c' AS col, $k AS k FROM lineitem WHERE $c IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      val statBranches = colsSpec.map { case (c, kind) =>
        val (loN, hiN, loS, hiS) = kind match {
          case "num" => (s"min($c)::DOUBLE", s"max($c)::DOUBLE", "''", "''")
          case "time" => ("'NaN'::DOUBLE", "'NaN'::DOUBLE",
            s"strftime(min($c), '%Y-%m-%d %H:%M:%S')",
            s"strftime(max($c), '%Y-%m-%d %H:%M:%S')")
          case _ => ("'NaN'::DOUBLE", "'NaN'::DOUBLE", s"min($c)", s"max($c)")
        }
        s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
           |    (count(*) - count($c))::BIGINT AS n_null,
           |    $loN AS min_num, $hiN AS max_num,
           |    $loS AS min_str, $hiS AS max_str FROM lineitem""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH keys AS (
         |  $keyBranches),
         |b AS (SELECT col, ${hash56("k")} >> 46 AS bucket,
         |        ${hash56("k")} & 70368744177663 AS w FROM keys),
         |r AS (SELECT col, bucket,
         |        max(47 - (CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END)) AS rho
         |      FROM b GROUP BY 1, 2),
         |a AS (SELECT col, count(*) AS nnz, sum(1::BIGINT << (47 - rho)) AS s
         |      FROM r GROUP BY 1),
         |e AS (SELECT col, 1024 - nnz AS zeros,
         |        (1024 - nnz) * (1::BIGINT << 47) + s AS st FROM a),
         |est AS (SELECT col,
         |  CASE WHEN zeros > 0 AND $raw <= 2560.0
         |       THEN round(1024.0 * round(ln(1024.0 / CAST(zeros AS DOUBLE)), 6), 6)
         |       ELSE $raw END AS hll_distinct FROM e),
         |stats AS (
         |  $statBranches)
         |SELECT s."column", s.n_rows, s.n_null, est.hll_distinct,
         |  s.min_num, s.max_num, s.min_str, s.max_str
         |FROM stats s JOIN est ON s."column" = est.col
         |ORDER BY s."column"""".stripMargin
    },

    // per-dimension vector profile: exact stats + the per-dim HLL chain
    // over the 1e-6-grid canonical key (the q_profile pattern grouped
    // by dimension)
    "q_profile_vec" -> {
      val aM2 = graft.stats.Hll.alpha(1024) * 1024.0 * 1024.0
      val scale = math.pow(2.0, 47.0)
      val raw = s"round($aM2 * $scale / CAST(st AS DOUBLE), 6)"
      s"""WITH m AS (SELECT d AS dim, embedding[d + 1]::DOUBLE AS x
         |  FROM embeddings CROSS JOIN range(64) t(d)
         |  WHERE embedding[d + 1] IS NOT NULL),
         |stats AS (SELECT dim, count(*)::BIGINT AS n,
         |    min(x) AS min_num, max(x) AS max_num FROM m GROUP BY 1),
         |keys AS (SELECT dim,
         |    CAST(round(x * 1e6) AS BIGINT)::VARCHAR AS k FROM m),
         |b AS (SELECT dim, ${hash56("k")} >> 46 AS bucket,
         |        ${hash56("k")} & 70368744177663 AS w FROM keys),
         |r AS (SELECT dim, bucket,
         |        max(47 - (CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END)) AS rho
         |      FROM b GROUP BY 1, 2),
         |a AS (SELECT dim, count(*) AS nnz, sum(1::BIGINT << (47 - rho)) AS s
         |      FROM r GROUP BY 1),
         |e AS (SELECT dim, 1024 - nnz AS zeros,
         |        (1024 - nnz) * (1::BIGINT << 47) + s AS st FROM a),
         |est AS (SELECT dim,
         |  CASE WHEN zeros > 0 AND $raw <= 2560.0
         |       THEN round(1024.0 * round(ln(1024.0 / CAST(zeros AS DOUBLE)), 6), 6)
         |       ELSE $raw END AS n_distinct_est FROM e)
         |SELECT s.dim, s.n, est.n_distinct_est, s.min_num, s.max_num
         |FROM stats s JOIN est USING (dim) ORDER BY s.dim""".stripMargin
    },

    // bit-for-bit HyperLogLog replay: integer-exact registers (bucket =
    // top 10 hash bits, rho via binary-string length), exact-integer
    // harmonic sum, 1e-6-snapped estimate — the float literals are the
    // Scala doubles' shortest round-trip strings, which DuckDB parses
    // back to the identical bits
    "q_kmv_distinct" -> {
      val two56 = "CAST(72057594037927936 AS DOUBLE)"
      s"""WITH t AS (SELECT source, ${shinglesExpr(toksExpr, 2)} AS gs
         |  FROM documents),
         |sh AS (SELECT DISTINCT source, ${hash56("'kmv:' || g")} AS h
         |  FROM (SELECT source, unnest(gs) AS g FROM t)),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n_exact FROM sh),
         |th AS (SELECT source, max(n_exact)::BIGINT AS n_exact,
         |    count(*)::BIGINT AS n_retained,
         |    CASE WHEN max(n_exact) >= 128
         |      THEN max(CASE WHEN rn = 128 THEN h END)
         |      ELSE 72057594037927936 END AS theta_raw
         |  FROM r WHERE rn <= 128 GROUP BY source)
         |SELECT source, n_exact, n_retained, theta_raw,
         |  round(CASE WHEN n_exact < 128 THEN n_exact::DOUBLE
         |    ELSE 127.0 / (theta_raw::DOUBLE / $two56) END, 9) AS est
         |FROM th ORDER BY source""".stripMargin
    },

    "q_kmv_setops" -> {
      val two56 = "CAST(72057594037927936 AS DOUBLE)"
      s"""WITH t AS (SELECT source, ${shinglesExpr(toksExpr, 2)} AS gs
         |  FROM documents),
         |sh AS (SELECT DISTINCT source, ${hash56("'kmv:' || g")} AS h
         |  FROM (SELECT source, unnest(gs) AS g FROM t)),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n_exact FROM sh),
         |sk AS (SELECT source, h, rn, n_exact FROM r WHERE rn <= 128),
         |th AS (SELECT source, max(n_exact) AS n_exact,
         |    CASE WHEN max(n_exact) >= 128
         |      THEN max(CASE WHEN rn = 128 THEN h END)
         |      ELSE 72057594037927936 END AS theta_raw
         |  FROM sk GROUP BY source),
         |p AS (SELECT a.source AS s1, b.source AS s2,
         |    least(a.theta_raw, b.theta_raw) AS tmin
         |  FROM th a JOIN th b ON a.source < b.source),
         |ex AS (SELECT x.source AS s1, y.source AS s2, count(*) AS n_ex
         |  FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
         |  GROUP BY 1, 2),
         |ic AS (SELECT x.source AS s1, y.source AS s2, count(*) AS n_c
         |  FROM sk x JOIN sk y ON x.h = y.h AND x.source < y.source
         |  JOIN p ON p.s1 = x.source AND p.s2 = y.source AND x.h < p.tmin
         |  GROUP BY 1, 2),
         |u AS (SELECT p.s1, p.s2, k1.h FROM p JOIN sk k1 ON k1.source = p.s1
         |  UNION
         |  SELECT p.s1, p.s2, k2.h FROM p JOIN sk k2 ON k2.source = p.s2),
         |ur AS (SELECT s1, s2, h,
         |    row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY s1, s2) AS n FROM u),
         |uth AS (SELECT s1, s2, max(n) AS un,
         |    CASE WHEN max(n) >= 128
         |      THEN max(CASE WHEN rn = 128 THEN h END)
         |      ELSE 72057594037927936 END AS utheta
         |  FROM ur WHERE rn <= 128 GROUP BY s1, s2)
         |SELECT p.s1, p.s2,
         |  coalesce(ex.n_ex, 0)::BIGINT AS n_exact_intersect,
         |  round(coalesce(ic.n_c, 0)::DOUBLE
         |    / (p.tmin::DOUBLE / $two56), 9) AS est_intersect,
         |  round(CASE WHEN uth.un < 128 THEN uth.un::DOUBLE
         |    ELSE 127.0 / (uth.utheta::DOUBLE / $two56) END, 9) AS est_union
         |FROM p
         |LEFT JOIN ex ON ex.s1 = p.s1 AND ex.s2 = p.s2
         |LEFT JOIN ic ON ic.s1 = p.s1 AND ic.s2 = p.s2
         |JOIN uth ON uth.s1 = p.s1 AND uth.s2 = p.s2
         |ORDER BY p.s1, p.s2""".stripMargin
    },

    "q_kmv_hip" -> {
      val two56 = "CAST(72057594037927936 AS DOUBLE)"
      s"""WITH t AS (SELECT source, ${shinglesExpr(toksExpr, 2)} AS gs
         |  FROM documents),
         |sh AS (SELECT DISTINCT source, ${hash56("'kmv:' || g")} AS h
         |  FROM (SELECT source, unnest(gs) AS g FROM t)),
         |r AS (SELECT source, h,
         |    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n_exact FROM sh),
         |sk AS (SELECT source, h, rn, n_exact FROM r WHERE rn <= 128),
         |th AS (SELECT source, max(n_exact) AS n_exact,
         |    CASE WHEN max(n_exact) >= 128
         |      THEN max(CASE WHEN rn = 128 THEN h END)
         |      ELSE 72057594037927936 END AS theta_raw
         |  FROM sk GROUP BY source),
         |p AS (SELECT a.source AS s1, b.source AS s2,
         |    least(a.theta_raw, b.theta_raw) AS tmin
         |  FROM th a JOIN th b ON a.source < b.source),
         |u AS (SELECT p.s1, p.s2, k1.h FROM p JOIN sk k1 ON k1.source = p.s1
         |  UNION
         |  SELECT p.s1, p.s2, k2.h FROM p JOIN sk k2 ON k2.source = p.s2),
         |ur AS (SELECT s1, s2, h,
         |    row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY s1, s2) AS n FROM u),
         |uth AS (SELECT s1, s2, max(n) AS un,
         |    CASE WHEN max(n) >= 128
         |      THEN max(CASE WHEN rn = 128 THEN h END)
         |      ELSE 72057594037927936 END AS utheta
         |  FROM ur WHERE rn <= 128 GROUP BY s1, s2),
         |pc AS (SELECT u.s1, u.s2, count(*) AS n_pooled
         |  FROM u JOIN p ON p.s1 = u.s1 AND p.s2 = u.s2
         |  WHERE u.h < p.tmin GROUP BY 1, 2),
         |d AS (SELECT p.s1, p.s2, count(*) AS n_d
         |  FROM p JOIN sk k1 ON k1.source = p.s1 AND k1.h < p.tmin
         |  LEFT JOIN sk k2 ON k2.source = p.s2 AND k2.h = k1.h
         |  WHERE k2.h IS NULL GROUP BY 1, 2)
         |SELECT p.s1, p.s2,
         |  coalesce(pc.n_pooled, 0)::BIGINT AS n_pooled,
         |  round(coalesce(pc.n_pooled, 0)::DOUBLE
         |    / (p.tmin::DOUBLE / $two56), 9) AS est_union_hip,
         |  round(CASE WHEN uth.un < 128 THEN uth.un::DOUBLE
         |    ELSE 127.0 / (uth.utheta::DOUBLE / $two56) END, 9)
         |    AS est_union_merged,
         |  round(coalesce(d.n_d, 0)::DOUBLE
         |    / (p.tmin::DOUBLE / $two56), 9) AS est_diff_ab
         |FROM p
         |LEFT JOIN pc ON pc.s1 = p.s1 AND pc.s2 = p.s2
         |LEFT JOIN d ON d.s1 = p.s1 AND d.s2 = p.s2
         |JOIN uth ON uth.s1 = p.s1 AND uth.s2 = p.s2
         |ORDER BY p.s1, p.s2""".stripMargin
    },

    "q_hll_distinct" -> {
      val aM2 = graft.stats.Hll.alpha(1024) * 1024.0 * 1024.0
      val scale = math.pow(2.0, 47.0)
      val raw = s"round($aM2 * $scale / CAST(st AS DOUBLE), 6)"
      s"""WITH k AS (SELECT l_returnflag AS g,
         |    ${hash56("'hll:' || l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR")} AS h
         |  FROM lineitem),
         |b AS (SELECT g, h >> 46 AS bucket, h & 70368744177663 AS w FROM k),
         |r AS (SELECT g, bucket,
         |        max(47 - (CASE WHEN w = 0 THEN 0 ELSE length(bin(w)) END)) AS rho
         |      FROM b GROUP BY 1, 2),
         |a AS (SELECT g, count(*) AS nnz, sum(1::BIGINT << (47 - rho)) AS s
         |      FROM r GROUP BY 1),
         |e AS (SELECT g, 1024 - nnz AS zeros,
         |        (1024 - nnz) * (1::BIGINT << 47) + s AS st FROM a),
         |est AS (SELECT g,
         |  CASE WHEN zeros > 0 AND $raw <= 2560.0
         |       THEN round(1024.0 * round(ln(1024.0 / CAST(zeros AS DOUBLE)), 6), 6)
         |       ELSE $raw END AS hll_distinct FROM e),
         |x AS (SELECT l_returnflag AS g,
         |        count(DISTINCT l_partkey::VARCHAR || '|' || l_suppkey::VARCHAR)
         |          AS exact_distinct
         |      FROM lineitem GROUP BY 1)
         |SELECT est.g AS l_returnflag, est.hll_distinct, x.exact_distinct
         |FROM est JOIN x USING (g) ORDER BY 1""".stripMargin
    },

    // bit-for-bit Morton interleave replay: z-bit (2b + j) carries bit b
    // of dimension j
    "q_zorder" -> {
      val zTerms = (0 until 15).flatMap(b => Seq(
        s"(((l_partkey >> $b) & 1) << ${2 * b})",
        s"(((l_suppkey >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  $zTerms AS zval
         |FROM lineitem ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    // equi-depth bucket replay: one window per dimension computes
    // rows_before(v), the floor-div bucket ids interleave exactly as
    // the Spark side's
    "q_zorder_rank" -> {
      val zTerms = (0 until 10).flatMap(b => Seq(
        s"(((x >> $b) & 1) << ${2 * b})",
        s"(((y >> $b) & 1) << ${2 * b + 1})")).mkString(" + ")
      s"""WITH n AS (SELECT count(*) AS n FROM lineitem),
         |c0 AS (SELECT l_extendedprice AS v, count(*) AS c FROM lineitem GROUP BY 1),
         |b0 AS (SELECT v, CAST((coalesce(sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1024)
         |    // (SELECT n FROM n) AS BIGINT) AS bucket FROM c0),
         |c1 AS (SELECT l_shipdate AS v, count(*) AS c FROM lineitem GROUP BY 1),
         |b1 AS (SELECT v, CAST((coalesce(sum(c) OVER (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 1024)
         |    // (SELECT n FROM n) AS BIGINT) AS bucket FROM c1),
         |t AS (SELECT l.l_orderkey, l.l_linenumber,
         |        b0.bucket AS x, b1.bucket AS y
         |      FROM lineitem l
         |      JOIN b0 ON l.l_extendedprice = b0.v
         |      JOIN b1 ON l.l_shipdate = b1.v)
         |SELECT l_orderkey, l_linenumber, $zTerms AS zval
         |FROM t ORDER BY zval, l_orderkey, l_linenumber""".stripMargin
    },

    // bit-level Bloom replay: "filter contains x" == "every one of x's
    // k double-hashed positions appears in the existing corpus's
    // position set" — identical semantics to the m-bit array, false
    // positives included
    "q_bloom_dedup" ->
      s"""WITH ex AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |        UNION ALL
         |        SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
         |ks AS (SELECT unnest(range(3)) AS i),
         |exh AS (SELECT ${hash56("'gb1:' || text")} % 32768 AS h1,
         |               1 + ${hash56("'gb2:' || text")} % 32767 AS h2 FROM ex),
         |setbits AS (SELECT DISTINCT (h1 + i * h2) % 32768 AS pos
         |            FROM exh CROSS JOIN ks),
         |inch AS (SELECT doc_id, text,
         |               ${hash56("'gb1:' || text")} % 32768 AS h1,
         |               1 + ${hash56("'gb2:' || text")} % 32767 AS h2 FROM inc),
         |ipos AS (SELECT doc_id, (h1 + i * h2) % 32768 AS pos
         |         FROM inch CROSS JOIN ks),
         |need AS (SELECT doc_id, count(DISTINCT pos) AS need FROM ipos GROUP BY 1),
         |hit AS (SELECT p.doc_id, count(DISTINCT p.pos) AS hits
         |        FROM ipos p JOIN setbits sb ON p.pos = sb.pos GROUP BY 1),
         |seen AS (SELECT n.doc_id, coalesce(h.hits, 0) = n.need AS maybe_seen
         |         FROM need n LEFT JOIN hit h USING (doc_id)),
         |sx AS (SELECT i.doc_id,
         |         EXISTS (SELECT 1 FROM ex e WHERE e.text = i.text) AS seen_exact
         |       FROM inc i)
         |SELECT s.doc_id, s.maybe_seen, x.seen_exact,
         |  s.maybe_seen AND NOT x.seen_exact AS false_positive
         |FROM seen s JOIN sx x USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_jaccard_pairs" ->
      s"""WITH $jaccardCtes
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $jaccardCtes,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |        UNION ALL SELECT doc_b, doc_a FROM pr),
         |walk(id, label) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT u.src, w.label FROM und u JOIN walk w ON w.id = u.dst)
         |SELECT id AS doc_id, min(label) AS cluster_id FROM walk
         |GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_repetition" -> {
      def block(n: Int) =
        s"""SELECT doc_id, $n AS n, max(c)::BIGINT AS top_count,
           |  sum(c)::BIGINT AS total, max(c)::DOUBLE / sum(c) AS top_frac
           |FROM (
           |  SELECT doc_id, g, count(*) AS c FROM (
           |    SELECT doc_id,
           |      unnest(list_transform(range(1, len(toks) - ${n - 2}),
           |        i -> array_to_string(list_slice(toks, i, i + ${n - 1}), ' '))) AS g
           |    FROM t WHERE len(toks) >= $n)
           |  GROUP BY 1, 2)
           |GROUP BY doc_id""".stripMargin
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents)
         |${block(2)}
         |UNION ALL
         |${block(3)}
         |ORDER BY doc_id, n""".stripMargin
    },

    "q_minhash_neardup" -> {
      val P = TextOps.HashP
      val mins = (0 until 16).map { jj =>
        val (a, b) = TextOps.hashParams(jj)
        s"min(($a * h0 + $b) % $P) AS m$jj"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { b =>
        "'" + b + ":' || " + (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
          .mkString(" || ':' || ")
      }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |sh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM t),
         |sh2 AS (SELECT id, s, len(s) AS sz FROM sh WHERE len(s) > 0),
         |posts AS (SELECT id, ${hash56("g")} % $P AS h0 FROM
         |  (SELECT id, unnest(s) AS g FROM sh2)),
         |mh AS (SELECT id, $mins FROM posts GROUP BY id),
         |bk AS (SELECT id, unnest($bandKeys) AS k FROM mh),
         |cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
         |  FROM bk a JOIN bk b ON a.k = b.k AND a.id < b.id),
         |v AS (SELECT doc_a, doc_b,
         |  round(len(list_intersect(sa.s, sb.s))::DOUBLE /
         |        (sa.sz + sb.sz - len(list_intersect(sa.s, sb.s))), 9) AS jaccard
         |  FROM cand JOIN sh2 sa ON sa.id = doc_a JOIN sh2 sb ON sb.id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    },

    "q_crosscorpus_neardup" -> {
      // the q_minhash_neardup signature/band replay doubled: the delta
      // batch (every 7th doc + ' updated revision 2026', every 13th an
      // exact mirror) on one side, the full corpus on the other; the
      // candidate join crosses sides only
      val P = TextOps.HashP
      val mins = (0 until 16).map { jj =>
        val (a, b) = TextOps.hashParams(jj)
        s"min(($a * h0 + $b) % $P) AS m$jj"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { b =>
        "'" + b + ":' || " + (0 until 4).map(r => s"m${b * 4 + r}::VARCHAR")
          .mkString(" || ':' || ")
      }.mkString("[", ", ", "]")
      s"""WITH bdoc AS (
         |  SELECT doc_id + 500000 AS doc_id,
         |         text || ' updated revision 2026' AS text
         |  FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 600000 AS doc_id, text
         |  FROM documents WHERE doc_id % 13 = 0),
         |bt AS (SELECT doc_id, $toksExpr AS toks FROM bdoc),
         |bsh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM bt),
         |bsh2 AS (SELECT id, s, len(s) AS sz FROM bsh WHERE len(s) > 0),
         |bposts AS (SELECT id, ${hash56("g")} % $P AS h0 FROM
         |  (SELECT id, unnest(s) AS g FROM bsh2)),
         |bmh AS (SELECT id, $mins FROM bposts GROUP BY id),
         |bbk AS (SELECT id, unnest($bandKeys) AS k FROM bmh),
         |ct AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |csh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM ct),
         |csh2 AS (SELECT id, s, len(s) AS sz FROM csh WHERE len(s) > 0),
         |cposts AS (SELECT id, ${hash56("g")} % $P AS h0 FROM
         |  (SELECT id, unnest(s) AS g FROM csh2)),
         |cmh AS (SELECT id, $mins FROM cposts GROUP BY id),
         |cbk AS (SELECT id, unnest($bandKeys) AS k FROM cmh),
         |cand AS (SELECT DISTINCT a.id AS batch_id, b.id AS corpus_id
         |  FROM bbk a JOIN cbk b ON a.k = b.k),
         |v AS (SELECT batch_id, corpus_id,
         |  round(len(list_intersect(sa.s, sb.s))::DOUBLE /
         |        (sa.sz + sb.sz - len(list_intersect(sa.s, sb.s))), 9) AS jaccard
         |  FROM cand JOIN bsh2 sa ON sa.id = batch_id
         |            JOIN csh2 sb ON sb.id = corpus_id)
         |SELECT batch_id, corpus_id, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY batch_id, corpus_id""".stripMargin
    },

    "q_edit_neardup" -> editNearDupSql(400000L),
    "q_edit_neardup_tight" -> editNearDupSql(800000L),

    "q_simhash" -> {
      val sums = (0 until 56).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN c ELSE -c END) AS s$b").mkString(", ")
      val hashTerms = (0 until 56).map(b =>
        s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest($toksExpr) AS tk FROM documents),
         |cnt AS (SELECT doc_id, tk, count(*) AS c, ${hash56("tk")} AS h
         |  FROM tok GROUP BY doc_id, tk),
         |s AS (SELECT doc_id, $sums FROM cnt GROUP BY doc_id)
         |SELECT doc_id, ($hashTerms)::BIGINT AS simhash FROM s
         |ORDER BY doc_id""".stripMargin
    },

    "q_cdc_chunks" ->
      s"""WITH ${cdcChunkCtes()}
         |SELECT doc_id, chunk_idx, start_pos, n_tokens, chunk_hash
         |FROM cdch ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_cdc_dedup" ->
      s"""WITH ${cdcChunkCtes()},
         |cdr AS (SELECT doc_id, chunk_idx, n_tokens,
         |    row_number() OVER (PARTITION BY chunk_hash
         |      ORDER BY doc_id, chunk_idx) AS rn
         |  FROM cdch)
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(n_tokens)::BIGINT AS n_tokens,
         |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_chunks,
         |  sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END)::BIGINT AS dup_tokens,
         |  round(sum(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END) * 100.0
         |    / sum(n_tokens), 9) AS dup_token_pct
         |FROM cdr GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_cdc_sync" ->
      s"""WITH inc0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id,
         |    substr(text, 1, 80) || ' patched v2 ' || substr(text, 81) AS text
         |  FROM documents WHERE doc_id % 6 = 0),
         |held0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${cdcChunkCtes("inc0", "i")},
         |${cdcChunkCtes("held0", "h")},
         |st AS (SELECT DISTINCT chunk_hash FROM hcdch),
         |j AS (SELECT c.doc_id, c.n_tokens,
         |    (s.chunk_hash IS NULL) AS ship
         |  FROM icdch c LEFT JOIN st s USING (chunk_hash))
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(n_tokens)::BIGINT AS n_tokens,
         |  sum(ship::INT)::BIGINT AS ship_chunks,
         |  sum(CASE WHEN ship THEN n_tokens ELSE 0 END)::BIGINT AS ship_tokens,
         |  round((sum(n_tokens) - sum(CASE WHEN ship THEN n_tokens ELSE 0 END))
         |    * 100.0 / sum(n_tokens), 9) AS reuse_pct
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // byte-level Gear CDC: GEAR[b] regenerated from md5 ("gear:" || b),
    // and the kernel's (h << 1) + GEAR[b] low-6-bit cut test replayed
    // in its windowed form — see byteCdcCtes. ascii() == byte value on
    // the verified all-ASCII corpus.
    "q_cdc_bytes" ->
      s"""WITH ${byteCdcCtes("documents", "")}
         |SELECT doc_id, chunk_idx, start, len, chunk_hash
         |FROM bch ORDER BY doc_id, chunk_idx""".stripMargin,

    // byte-CDC sync over P6 media payloads: the payload string is
    // rebuilt in SQL (header || cyclic body — all ASCII because the
    // source text is), then the same Gear replay + store probe as
    // q_cdc_bytes_sync
    "q_cdc_media" ->
      s"""WITH idocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id,
         |    substr(text, 1, 80) || ' patched v2 ' || substr(text, 81) AS text
         |  FROM documents WHERE doc_id % 6 = 0),
         |hdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${p6PayloadCte("idocs", "inc0")},
         |${p6PayloadCte("hdocs", "held0")},
         |${byteCdcCtes("inc0", "i")},
         |${byteCdcCtes("held0", "h")},
         |st AS (SELECT DISTINCT chunk_hash FROM hbch),
         |j AS (SELECT c.doc_id, c.len,
         |    (s.chunk_hash IS NULL) AS ship
         |  FROM ibch c LEFT JOIN st s USING (chunk_hash))
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(len)::BIGINT AS n_bytes,
         |  sum(ship::INT)::BIGINT AS ship_chunks,
         |  sum(CASE WHEN ship THEN len ELSE 0 END)::BIGINT AS ship_bytes,
         |  round((sum(len) - sum(CASE WHEN ship THEN len ELSE 0 END))
         |    * 100.0 / sum(len), 9) AS reuse_pct
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // byte-CDC sync over RIFF/WAVE containers: the container bytes
    // (binary LE header fields included — all < 128 by construction)
    // are rebuilt as chr() composition, then the same Gear replay
    "q_cdc_media_wav" ->
      s"""WITH idocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id,
         |    substr(text, 1, 80) || ' patched v2 ' || substr(text, 81) AS text
         |  FROM documents WHERE doc_id % 6 = 0),
         |hdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${wavPayloadCte("idocs", "inc0")},
         |${wavPayloadCte("hdocs", "held0")},
         |${byteCdcCtes("inc0", "i")},
         |${byteCdcCtes("held0", "h")},
         |st AS (SELECT DISTINCT chunk_hash FROM hbch),
         |j AS (SELECT c.doc_id, c.len,
         |    (s.chunk_hash IS NULL) AS ship
         |  FROM ibch c LEFT JOIN st s USING (chunk_hash))
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(len)::BIGINT AS n_bytes,
         |  sum(ship::INT)::BIGINT AS ship_chunks,
         |  sum(CASE WHEN ship THEN len ELSE 0 END)::BIGINT AS ship_bytes,
         |  round((sum(len) - sum(CASE WHEN ship THEN len ELSE 0 END))
         |    * 100.0 / sum(len), 9) AS reuse_pct
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // byte-CDC sync over YUV4MPEG2 containers: ASCII stream header +
    // FRAME markers + cyclic plane bytes, same Gear replay
    "q_cdc_media_y4m" ->
      s"""WITH idocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id,
         |    substr(text, 1, 80) || ' patched v2 ' || substr(text, 81) AS text
         |  FROM documents WHERE doc_id % 6 = 0),
         |hdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${y4mPayloadCte("idocs", "inc0")},
         |${y4mPayloadCte("hdocs", "held0")},
         |${byteCdcCtes("inc0", "i")},
         |${byteCdcCtes("held0", "h")},
         |st AS (SELECT DISTINCT chunk_hash FROM hbch),
         |j AS (SELECT c.doc_id, c.len,
         |    (s.chunk_hash IS NULL) AS ship
         |  FROM ibch c LEFT JOIN st s USING (chunk_hash))
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(len)::BIGINT AS n_bytes,
         |  sum(ship::INT)::BIGINT AS ship_chunks,
         |  sum(CASE WHEN ship THEN len ELSE 0 END)::BIGINT AS ship_bytes,
         |  round((sum(len) - sum(CASE WHEN ship THEN len ELSE 0 END))
         |    * 100.0 / sum(len), 9) AS reuse_pct
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // byte-level incremental sync: the q_cdc_sync corpus split (evens
    // held; odds + mid-text-patched every-6th incoming) replayed on
    // Gear byte chunks — reuse reported in bytes
    "q_cdc_bytes_sync" ->
      s"""WITH inc0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id,
         |    substr(text, 1, 80) || ' patched v2 ' || substr(text, 81) AS text
         |  FROM documents WHERE doc_id % 6 = 0),
         |held0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |${byteCdcCtes("inc0", "i")},
         |${byteCdcCtes("held0", "h")},
         |st AS (SELECT DISTINCT chunk_hash FROM hbch),
         |j AS (SELECT c.doc_id, c.len,
         |    (s.chunk_hash IS NULL) AS ship
         |  FROM ibch c LEFT JOIN st s USING (chunk_hash))
         |SELECT doc_id, count(*)::BIGINT AS n_chunks,
         |  sum(len)::BIGINT AS n_bytes,
         |  sum(ship::INT)::BIGINT AS ship_chunks,
         |  sum(CASE WHEN ship THEN len ELSE 0 END)::BIGINT AS ship_bytes,
         |  round((sum(len) - sum(CASE WHEN ship THEN len ELSE 0 END))
         |    * 100.0 / sum(len), 9) AS reuse_pct
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // volume drift: integer trailing sums -> one IEEE division + sqrt;
    // the n_hist guards keep NaN out of every comparison (DuckDB sorts
    // NaN above everything — a silent verdict flip if it leaked in)
    "q_volume_drift" ->
      """WITH c0 AS (SELECT event_type AS key,
        |    epoch_us(ts) // 3600000000 AS bucket, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM c0),
        |k AS (SELECT DISTINCT key FROM c0),
        |spine AS (SELECT key, unnest(range(lo, hi + 1)) AS bucket
        |  FROM k CROSS JOIN b),
        |dense AS (SELECT s.key, s.bucket, coalesce(c.c, 0) AS c
        |  FROM spine s LEFT JOIN c0 c USING (key, bucket)),
        |wv AS (SELECT key, bucket, c,
        |    count(*) OVER w AS n_hist,
        |    coalesce(sum(c) OVER w, 0) AS s,
        |    coalesce(sum(c * c) OVER w, 0) AS ss
        |  FROM dense WINDOW w AS (PARTITION BY key ORDER BY bucket
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |m AS (SELECT key, bucket, c, n_hist,
        |    CASE WHEN n_hist >= 1 THEN s::DOUBLE / n_hist
        |      ELSE 0.0::DOUBLE END AS mean,
        |    CASE WHEN n_hist >= 2 THEN sqrt((n_hist * ss - s * s)::DOUBLE
        |      / (n_hist::DOUBLE * (n_hist - 1))) ELSE 0.0::DOUBLE END AS sd
        |  FROM wv)
        |SELECT key, bucket, c::BIGINT AS c, n_hist::BIGINT AS n_hist,
        |  round(mean, 9) AS mean,
        |  round(CASE WHEN sd > 0 THEN (c - mean) / sd
        |    ELSE 0.0::DOUBLE END, 9) AS z,
        |  (n_hist = 24 AND abs(c - mean) > 3.0::DOUBLE * sd) AS alert
        |FROM m ORDER BY key, bucket""".stripMargin,

    "q_expectations" ->
      """WITH agg AS (SELECT count(*) AS n,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS v1,
        |    sum(CASE WHEN l_quantity IS NOT NULL
        |      AND (l_quantity < 1.0 OR l_quantity > 50.0)
        |      THEN 1 ELSE 0 END) AS v2,
        |    sum(CASE WHEN l_extendedprice IS NOT NULL
        |      AND (l_extendedprice < 0.0 OR l_extendedprice > 100000.0)
        |      THEN 1 ELSE 0 END) AS v3,
        |    sum(CASE WHEN l_returnflag IS NOT NULL
        |      AND l_returnflag NOT IN ('A', 'N', 'R')
        |      THEN 1 ELSE 0 END) AS v4
        |  FROM lineitem),
        |u AS (SELECT (SELECT count(*) FROM lineitem) -
        |    (SELECT count(*) FROM
        |      (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS vu)
        |SELECT rule, measured::BIGINT AS measured,
        |  violations::BIGINT AS violations, violations = 0 AS passed
        |FROM (
        |  SELECT 'not_null:l_orderkey' AS rule, v1 AS measured,
        |    v1 AS violations FROM agg
        |  UNION ALL SELECT 'between:l_quantity:[1.0,50.0]', v2, v2 FROM agg
        |  UNION ALL SELECT 'between:l_extendedprice:[0.0,100000.0]', v3, v3
        |    FROM agg
        |  UNION ALL SELECT 'accepted:l_returnflag:{A|N|R}', v4, v4 FROM agg
        |  UNION ALL SELECT 'unique:l_orderkey,l_linenumber', vu, vu FROM u
        |  UNION ALL SELECT 'row_count_at_least:100000', n,
        |    greatest(0, 100000 - n) FROM agg)
        |ORDER BY rule""".stripMargin,

    "q_topk_per_key" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    len($toksExpr)::BIGINT AS n_tokens FROM documents),
         |r AS (SELECT doc_id, source, n_tokens,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_tokens DESC, doc_id) AS rn FROM t)
         |SELECT doc_id, source, n_tokens FROM r WHERE rn <= 3
         |ORDER BY source, doc_id""".stripMargin,

    "q_topk_lineitem" ->
      """WITH r AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |    l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
        |FROM r WHERE rn <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_topk_window" ->
      """WITH r AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |    l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |      ::INT AS rn
        |  FROM lineitem)
        |SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn
        |FROM r WHERE rn <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_winnow" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |seqs AS (SELECT doc_id,
         |  unnest(range(1, len(toks) - 1)) AS pos,
         |  unnest(list_transform(range(1, len(toks) - 1),
         |    i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS g
         |  FROM t),
         |hashed AS (SELECT doc_id, pos, ${hash56("g")} AS h FROM seqs),
         |win AS (SELECT doc_id, pos,
         |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
         |  FROM hashed)
         |SELECT DISTINCT doc_id, fp AS fingerprint FROM win WHERE pos >= 4
         |ORDER BY doc_id, fingerprint""".stripMargin,

    "q_compact" ->
      // mirrors the compaction roundtrip's content card off the
      // ORIGINAL table: the compacted layout must aggregate to the
      // identical per-source counts/sums/hash signature (value
      // losslessness — the rewrite is layout-only)
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_compact_part" ->
      // the identical value-losslessness card for the PARTITIONED
      // compaction — the partition column (source) round-trips
      // through directory discovery, so the grouping key itself is
      // under test
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_compact_part_inplace" ->
      // same card through the IN-PLACE manifest protocol and the
      // manifest-aware partitioned reader
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_zorder_optimize" ->
      // same value-losslessness card through the in-place ZORDER
      // rewrite and its manifest commit
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_zorder_optimize_part" ->
      // the same card through the PARTITIONED in-place ZORDER: every
      // leaf re-clusters through its own manifest commit (pooled
      // waves) and the partition column round-trips through the
      // manifest-aware partitioned reader
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_compact_append" ->
      // the whole-corpus card through the seed → append → optimize →
      // read lifecycle: equality proves the manifest commits neither
      // lost, duplicated, nor double-served a row
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_compact_append_part" ->
      // the whole-corpus card through the PARTITIONED append: one
      // partitioned write fans the batch to per-leaf atomic manifest
      // commits, and the replayed txn token no-ops every leaf —
      // equality proves per-leaf exactly-once end to end
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_skipping" ->
      // the pruned range read must equal the plain WHERE — skipping
      // is a scan-cost optimization, never a semantics change
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents WHERE doc_id BETWEEN 130 AND 240
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_skipping_card" ->
      // each slab's footer bounds are its content min/max, so the
      // pruning decision replays as pure arithmetic over per-slab
      // extrema: a slab survives iff [mn, mx] intersects [130, 240]
      """WITH slabs AS (SELECT
        |    CASE WHEN doc_id < 125 THEN 0 WHEN doc_id < 250 THEN 1
        |         WHEN doc_id < 375 THEN 2 ELSE 3 END AS slab,
        |    min(doc_id) AS mn, max(doc_id) AS mx
        |  FROM documents GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_files,
        |  count(*) FILTER (WHERE mx < 130 OR mn > 240)::BIGINT AS n_pruned,
        |  count(*) FILTER (WHERE mx >= 130 AND mn <= 240)::BIGINT AS n_read
        |FROM slabs""".stripMargin,

    "q_read_where" ->
      // the clause-pruned read must equal the plain conjunction
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents
         |WHERE doc_id BETWEEN 130 AND 240
         |  AND doc_id IN (5, 135, 200, 305)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q_schema_widen" ->
      // the widened column exists only on odd rows (the widening
      // batch); seeded rows surface it as null → -1 in the fold
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(CASE WHEN doc_id % 2 = 1 THEN n_chars * 2
         |    ELSE -1 END)::BIGINT AS extra_sig,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_read_changes" ->
      // the per-source cards of the appended increment: from g0 both
      // appended batches (doc_id % 3 in {1, 2}), from g1 only the
      // second (doc_id % 3 = 2) — never the seeded third
      s"""WITH gens AS (SELECT * FROM (VALUES (0), (1)) AS g(from_gen))
         |SELECT gens.from_gen::BIGINT AS from_gen, source,
         |  count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM gens JOIN documents d
         |  ON (d.doc_id % 3 = 2 OR (gens.from_gen = 0 AND d.doc_id % 3 = 1))
         |GROUP BY 1, 2 ORDER BY from_gen, source""".stripMargin,

    "q_manifest_history" ->
      // time travel through the retention window: generation 0 is the
      // seeded even half, generations 1 (append) and 2 (in-place
      // compaction) both card the whole corpus — the compaction is
      // layout-only, so its card equals the append's
      s"""WITH gens AS (SELECT * FROM (VALUES (0), (1), (2)) AS g(gen))
         |SELECT gens.gen::BIGINT AS gen, source,
         |  count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS sum_chars,
         |  sum(${hash56("'cmp' || ':' || doc_id::VARCHAR || ':' || text")}
         |    % 1000003)::BIGINT AS content_sig
         |FROM gens JOIN documents d ON (gens.gen > 0 OR d.doc_id % 2 = 0)
         |GROUP BY 1, 2 ORDER BY gen, source""".stripMargin,

    "q_compact_card" ->
      // replays the deterministic hash-bucket layout and the profile
      // card's row-side telemetry: per-file row counts (the parquet
      // footer counts the operator reads distributed) and totals
      s"""WITH f AS (SELECT
         |    ${hash56("'card:' || doc_id::VARCHAR")} % 24 AS f
         |  FROM documents),
         |per AS (SELECT f AS file_idx, count(*)::BIGINT AS n_rows
         |  FROM f GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n_files,
         |  sum(n_rows)::BIGINT AS n_rows_total FROM per)
         |SELECT file_idx, n_rows, n_files, n_rows_total
         |FROM per CROSS JOIN tot ORDER BY file_idx""".stripMargin,

    "q_compact_part_card" ->
      // replays the per-leaf listing telemetry: the repartition(1) +
      // partitionBy layout writes exactly one file per source leaf,
      // so leaf path, file count, and footer row totals all derive
      // from content
      """SELECT 'source=' || source AS partition, 1::BIGINT AS n_files,
        |  count(*)::BIGINT AS n_rows
        |FROM documents GROUP BY source ORDER BY partition""".stripMargin,

    "q_text_stats" -> {
      val sw = sqlList(TextStats.EnglishStopwords)
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  length(text)::DOUBLE AS nc,
         |  len(toks)::DOUBLE AS nt,
         |  len(list_distinct(toks))::DOUBLE AS ty,
         |  len(list_filter(toks, x -> list_contains($sw, x)))::DOUBLE AS sw,
         |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE AS nd,
         |  (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE AS na
         |  FROM t)
         |SELECT doc_id, nc::BIGINT AS n_chars, nt::BIGINT AS n_tokens,
         |  ty::BIGINT AS n_types,
         |  round(ty / nt, 9) AS type_token_ratio,
         |  round((nc - (nt - 1.0)) / nt, 9) AS avg_token_len,
         |  round(sw / nt, 9) AS stopword_ratio,
         |  round(nd / nc, 9) AS digit_ratio,
         |  round(na / nc, 9) AS alpha_ratio,
         |  round((CASE WHEN nt >= 10.0 AND nt <= 100000.0 THEN 1.0 ELSE 0.25 END) *
         |        (CASE WHEN (nc - (nt - 1.0)) / nt >= 2.0
         |              AND (nc - (nt - 1.0)) / nt <= 12.0 THEN 1.0 ELSE 0.5 END) *
         |        (CASE WHEN sw / nt >= 0.01 THEN 1.0 ELSE 0.5 END) *
         |        (CASE WHEN na / nc >= 0.6 THEN 1.0 ELSE 0.5 END), 9) AS quality_score
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_token_counts" ->
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |s AS (SELECT doc_id, len(toks)::BIGINT AS ws_tokens,
         |  (coalesce(list_sum(list_transform(
         |    list_filter(string_split_regex(text, '[^a-zA-Z]'), x -> x <> ''),
         |    r -> ceil(length(r) / 4.0)::BIGINT)), 0)
         |  + (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
         |  + length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')))::BIGINT AS bpe_tokens
         |  FROM t)
         |SELECT doc_id, ws_tokens, bpe_tokens FROM s ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      val profs = TextStats.DefaultProfiles
      val scoreDefs = profs.keys.toSeq.sorted.map { l =>
        s"round(len(list_filter(toks, x -> list_contains(${sqlList(profs(l))}, x)))::DOUBLE" +
          s" / greatest(len(toks)::DOUBLE, 1.0), 9) AS score_$l"
      }.mkString(",\n  ") +
        ",\n  round((length(text) - length(regexp_replace(text, " +
        "'[\\x{4e00}-\\x{9fff}]', '', 'g')))::DOUBLE / " +
        "greatest(length(text)::DOUBLE, 1.0), 9) AS score_zh"
      val all = (profs.keys.toSeq :+ "zh").sorted
      val g = all.map(l => s"score_$l").mkString("greatest(", ", ", ")")
      val pred = all.map(l =>
        s"WHEN score_$l >= $g AND score_$l > 0.0 THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT doc_id, text, $toksExpr AS toks FROM documents),
         |s AS (SELECT doc_id,
         |  $scoreDefs
         |  FROM t)
         |SELECT doc_id, ${all.map(l => s"score_$l").mkString(", ")},
         |  CASE $pred ELSE 'und' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "q_ann_cosine" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the truncated (Matryoshka) read: prefix-16 cosine shortlist,
    // exact 64-dim rerank — both passes replayed with the same HOF
    // dot spelling as q_ann_cosine
    "q_ann_truncated" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |p1 AS (SELECT query_id, neighbor_id, qv, cv,
         |  list_sum(list_transform(range(1, 17), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 17), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 17), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS pcos
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         |short AS (SELECT query_id, neighbor_id, qv, cv FROM (
         |  SELECT query_id, neighbor_id, qv, cv,
         |    row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS r1
         |  FROM p1) WHERE r1 <= 40),
         |scored AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM short),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // hybrid RRF: both arms' full oracle chains composed, fused on
    // ranks — 1/(k0 + rank) is one IEEE division on integer operands,
    // forced to DOUBLE so neither engine routes through DECIMAL
    "q_hybrid_rrf" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |pl AS (SELECT doc_id, term, tf,
         |  (sum(tf) OVER (PARTITION BY doc_id))::BIGINT AS dl FROM postings),
         |df AS (SELECT term, count(*) AS df FROM
         |  (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t) GROUP BY 1),
         |stats AS (SELECT count(*) AS n, sum(len)::BIGINT AS s FROM
         |  (SELECT len(toks) AS len FROM t) WHERE len > 0),
         |qterms AS (SELECT doc_id AS query_id,
         |  unnest(list_distinct(list_slice(toks, 1, 8))) AS term
         |  FROM t WHERE doc_id < 5),
         |contribs AS (
         |  SELECT q.query_id, p.doc_id, p.term,
         |    round(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)), 9) *
         |    ((p.tf * 2.2) / (p.tf + 1.2 *
         |      (0.25 + 0.75 * p.dl / (st.s::DOUBLE / st.n)))) AS c
         |  FROM qterms q JOIN pl p ON p.term = q.term
         |  JOIN df d ON d.term = q.term CROSS JOIN stats st),
         |scores AS (
         |  SELECT query_id, doc_id,
         |    round(list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
         |      (a, b) -> a + b), 9) AS score
         |  FROM contribs GROUP BY 1, 2),
         |branked AS (SELECT query_id, doc_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
         |    AS rb FROM scores),
         |bsel AS (SELECT query_id, doc_id, rb FROM branked WHERE rb <= 20),
         |vq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |vc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
         |vscored AS (SELECT query_id, doc_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM vc CROSS JOIN vq WHERE query_id <> doc_id),
         |vranked AS (SELECT query_id, doc_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rv
         |  FROM vscored),
         |vsel AS (SELECT query_id, doc_id, rv FROM vranked WHERE rv <= 20),
         |fused AS (SELECT query_id, doc_id,
         |    coalesce(1::DOUBLE / (60::DOUBLE + rb), 0::DOUBLE)
         |  + coalesce(1::DOUBLE / (60::DOUBLE + rv), 0::DOUBLE) AS rrf
         |  FROM bsel FULL JOIN vsel USING (query_id, doc_id)),
         |fr AS (SELECT query_id, doc_id, rrf,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id)
         |    AS rank FROM fused)
         |SELECT query_id, rank::BIGINT AS rank, doc_id, round(rrf, 9) AS rrf
         |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // hard negatives: the brute-cosine chain at k=13, positive
    // exclusion, bounded re-rank
    "q_hard_negatives" ->
      s"""WITH vq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |vc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM vc CROSS JOIN vq WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |keep AS (SELECT query_id, neighbor_id, cos, rank FROM rk
         |  WHERE rank <= 13 AND neighbor_id <> query_id + 100),
         |rr AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rank) AS nr
         |  FROM keep)
         |SELECT query_id AS anchor_id, nr::BIGINT AS neg_rank,
         |  neighbor_id AS negative_id, round(cos, 6) AS cosine
         |FROM rr WHERE nr <= 5 ORDER BY anchor_id, neg_rank""".stripMargin,

    // negative sampling: the epoch-0 permutation replayed as a global
    // row_number (the q_epoch_shard spelling), probes as hash56 mod N
    "q_neg_sample" ->
      s"""WITH o AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY
         |    ${hash56("'gs0:' || doc_id::VARCHAR")}, doc_id) - 1 AS gp
         |  FROM documents),
         |nn AS (SELECT count(*) AS n FROM documents),
         |pr AS (SELECT a.doc_id AS a, t.j,
         |    ${hash56("'neg0:' || a.doc_id::VARCHAR || ':' || t.j::VARCHAR")}
         |      % nn.n AS tgp
         |  FROM documents a CROSS JOIN range(15) t(j) CROSS JOIN nn
         |  WHERE a.doc_id < 10),
         |dr AS (SELECT pr.a, pr.j, o.doc_id AS cand
         |  FROM pr JOIN o ON o.gp = pr.tgp),
         |va AS (SELECT a, cand, min(j) AS fj FROM dr
         |  WHERE cand <> a AND cand <> a + 100 GROUP BY a, cand),
         |rk AS (SELECT a, cand,
         |    row_number() OVER (PARTITION BY a ORDER BY fj, cand) AS r
         |  FROM va)
         |SELECT a AS anchor_id, r::BIGINT AS neg_rank, cand AS negative_id
         |FROM rk WHERE r <= 5 ORDER BY anchor_id, neg_rank""".stripMargin,

    // time-travel read: the struct-max winner replayed as rank-1 per
    // id over the ts-filtered log (the q_merge_corpus convention)
    "q_corpus_asof" ->
      """WITH log AS (
        |  SELECT doc_id, doc_id * 10 AS ts, text, FALSE AS del FROM documents
        |  UNION ALL SELECT doc_id, doc_id * 10 + 5 AS ts, text || ' v2', FALSE
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, doc_id * 10 + 8 AS ts, '', TRUE
        |    FROM documents WHERE doc_id % 7 = 0),
        |f AS (SELECT * FROM log WHERE ts <= 3000),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY ts DESC, del DESC, text DESC) AS rn FROM f)
        |SELECT doc_id, ts::BIGINT AS ts, text
        |FROM w WHERE rn = 1 AND NOT del ORDER BY doc_id""".stripMargin,

    "q_ann_lsh" ->
      s"""WITH proj AS (SELECT j, list(w ORDER BY d) AS wv FROM (
         |  SELECT j, d,
         |    (((j + 1) * 2654435761 + (d + 1) * 40503) % 1000003) / 1000003.0 - 0.5 AS w
         |  FROM range(16) tj(j) CROSS JOIN range(64) td(d)) GROUP BY j),
         |bits AS (SELECT vec_id, j,
         |  CASE WHEN list_sum(list_transform(range(1, 65),
         |    i -> embedding[i]::DOUBLE * wv[i])) > 0 THEN 1 ELSE 0 END AS bit
         |  FROM embeddings CROSS JOIN proj),
         |sig AS (SELECT vec_id, list(bit ORDER BY j) AS bl FROM bits GROUP BY vec_id),
         |bk AS (SELECT vec_id, unnest(list_transform(range(0, 8),
         |  b -> b::VARCHAR || ':' || bl[2 * b + 1]::VARCHAR || ':' ||
         |       bl[2 * b + 2]::VARCHAR)) AS k FROM sig),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM bk q JOIN bk c ON q.k = c.k AND q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20),
         |scored AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> eq.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> eq.embedding[i]::DOUBLE * eq.embedding[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> ec.embedding[i]::DOUBLE * ec.embedding[i]::DOUBLE)))) AS cos
         |  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
         |            JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf" -> {
      // replays Ivf.ivfTopK(nCells=16, nProbe=4, iters=5, trainCap=4096)
      // exactly: 1e6 fixed-point quantization, init from the 16
      // lowest-id sample vectors, five unrolled Lloyd iterations with
      // integer distances and half-up floor-division centroid snaps,
      // then cell assignment + probe + exact-cosine rerank.
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      s"""WITH cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall WHERE vec_id < 20) WHERE rn <= 4),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probe p JOIN asg a USING (cell) WHERE p.query_id <> a.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
         |            JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "q_ann_filtered" -> {
      // mirrors Ivf.ivfTopKFiltered over the q_ann_ivf coarse chain:
      // the SAME full-corpus Lloyd CTEs (the shared quantizer), with
      // cell assignment and candidates restricted to the label-filter
      // SURVIVORS; probe lists stay unfiltered (queries need not
      // satisfy the predicate)
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      s"""WITH cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |surv AS (SELECT vec_id FROM embeddings WHERE label % 3 = 0),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT d.vec_id, cell,
         |    row_number() OVER (PARTITION BY d.vec_id ORDER BY dist, cell) AS rn
         |  FROM dall d JOIN surv USING (vec_id)) WHERE rn = 1),
         |probe AS (SELECT vec_id AS query_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall WHERE vec_id < 20) WHERE rn <= 4),
         |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
         |  FROM probe p JOIN asg a USING (cell) WHERE p.query_id <> a.vec_id),
         |scored AS (SELECT query_id, neighbor_id,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM cand JOIN embeddings eq ON eq.vec_id = query_id
         |            JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "q_vec_outliers" ->
      // the q_ann_ivf coarse chain up to per-vector assignment, then
      // per-cell z from HUGEINT moment sums (the grid distances are
      // exact integers; the z is 4 IEEE ops, 1e-9-rounded)
      s"""WITH cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |oasg AS (SELECT vec_id, cell, dist FROM (
         |  SELECT vec_id, cell, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |ost AS (SELECT cell, count(*) AS n, sum(dist::HUGEINT) AS s1,
         |    sum(dist::HUGEINT * dist::HUGEINT) AS s2
         |  FROM oasg GROUP BY cell),
         |oj AS (SELECT oasg.vec_id, oasg.cell, oasg.dist, ost.n,
         |  (ost.n::HUGEINT * oasg.dist::HUGEINT - ost.s1)::DOUBLE AS a,
         |  (ost.n::HUGEINT * ost.s2 - ost.s1 * ost.s1)::DOUBLE AS b,
         |  (ost.n * (ost.n - 1))::DOUBLE AS c
         |  FROM oasg JOIN ost USING (cell))
         |SELECT vec_id, cell::INTEGER AS cell, dist::DOUBLE AS dist,
         |  CASE WHEN n < 2 OR b <= 0 THEN NULL
         |    ELSE round((a / n::DOUBLE) / sqrt(b / c), 9) END AS z
         |FROM oj ORDER BY vec_id""".stripMargin,

    "q_pq_adc" -> {
      // replays Pq.trainCodebooks(m=8, k=16, iters=3) + encode + ADC:
      // per subspace, the shared unrolled-Lloyd chain over the 8-dim
      // slice; codes = per-subspace argmin; ADC = sum over subspaces of
      // the query's exact distance to the assigned centroid. Every
      // value is an exact integer on the fixed-point grid.
      s"""WITH $pqSharedCtes,
         |$pqSubChains,
         |codes_long AS ($pqCodesLong),
         |qd_long AS ($pqQdLong),
         |ad AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(q.dist)::BIGINT AS adc_dist
         |  FROM codes_long c JOIN qd_long q ON q.s = c.s AND q.cell = c.cell
         |  WHERE q.vec_id <> c.vec_id GROUP BY 1, 2),
         |rk AS (SELECT query_id, neighbor_id, adc_dist,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, neighbor_id) AS rank
         |  FROM ad)
         |SELECT query_id, rank, neighbor_id, adc_dist
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "q_ivfadc" ->
      // replays the RESIDUAL Pq.ivfAdcTopK — see ivfAdcOracleCtes;
      // shortlists the top rerank*k=80 per query, final k=10
      s"""${ivfAdcOracleCtes("vec_id < 20", 80)}
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_ann_filter_card" ->
      // mirrors Ivf.filterCard: the shared Lloyd chain, survivor
      // assignment, per-cell counts, one card row
      s"""WITH cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)
         |  WHERE label % 3 = 0),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |pc AS (SELECT cell, count(*)::BIGINT AS c FROM asg GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n_total FROM embeddings),
         |sc AS (SELECT coalesce(sum(c), 0)::BIGINT AS n_survivors,
         |  count(*)::BIGINT AS n_cells_hit,
         |  coalesce(max(c), 0)::BIGINT AS max_cell_survivors FROM pc)
         |SELECT n_total, n_survivors,
         |  CASE WHEN n_total = 0 THEN 0 ELSE
         |    (2 * n_survivors * 1000000 + n_total) // (2 * n_total)
         |  END AS selectivity_micro,
         |  n_cells_hit, max_cell_survivors
         |FROM tot CROSS JOIN sc""".stripMargin,

    "q_ann_filtered_adc" ->
      // the filtered IVFADC read: the identical residual chain with
      // candidates restricted to the label-filter survivors (codes,
      // probes, and the rerank tail unchanged — the quantizer is a
      // corpus-level artifact)
      s"""${ivfAdcOracleCtes("vec_id < 20", 80, "ce.label % 3 = 0")}
         |SELECT query_id, rank, neighbor_id, round(cos, 6) AS cosine
         |FROM rk2 WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_ann_recall" -> {
      // mirrors Ivf.recallCard: brute ground truth over the query
      // sample, the IVF probe sweep replayed off the SHARED coarse
      // chain of the IVFADC oracle (gdall/gasg — identical Lloyd
      // artifacts, so one chain serves every arm; per-arm candidate
      // sets are the `pr <= P` prefixes of one scored table), the
      // IVFADC arm straight from its rk2 tail, and the half-away
      // 1e-6 recall per arm
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      val armUnions = (Seq(1, 2, 4, 8, 16).map { p =>
        s"""SELECT 'ivf' AS arm, $p::BIGINT AS n_probe,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM
           |  (SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id
           |       ORDER BY cos DESC, neighbor_id) AS rk
           |   FROM ivsc WHERE pr <= $p) WHERE rk <= 10) t
           |JOIN btt USING (query_id, neighbor_id)""".stripMargin
      } :+
        s"""SELECT 'ivfadc' AS arm, 4::BIGINT AS n_probe,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM rk2
           |      WHERE rank <= 10) t
           |JOIN btt USING (query_id, neighbor_id)""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""${ivfAdcOracleCtes("vec_id < 20", 80)},
         |btq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |btc AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |  FROM embeddings),
         |bts AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM btc CROSS JOIN btq WHERE query_id <> neighbor_id),
         |btt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM bts) WHERE rank <= 10),
         |btn AS (SELECT count(*)::BIGINT AS n_truth FROM btt),
         |prall AS (SELECT vec_id AS query_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS pr
         |  FROM gdall WHERE vec_id < 20),
         |ivcand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.pr
         |  FROM prall p JOIN gasg a USING (cell)
         |  WHERE p.query_id <> a.vec_id),
         |ivsc AS (SELECT query_id, neighbor_id, pr,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM ivcand JOIN embeddings eq ON eq.vec_id = query_id
         |              JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |armhits AS ($armUnions)
         |SELECT arm, n_probe, n_hits, n_truth,
         |  CASE WHEN n_truth = 0 THEN 0
         |       ELSE (2 * n_hits * 1000000 + n_truth) // (2 * n_truth)
         |  END AS recall_micro
         |FROM armhits CROSS JOIN btn
         |ORDER BY arm, n_probe""".stripMargin
    },

    "q_ann_tune" -> {
      // the recall sweep off the PLAIN ivf oracle chain (no ADC arm),
      // then the pick: cheapest probe meeting the target, best-effort
      // max probe otherwise
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      val armUnions = Seq(1, 2, 4, 8, 16).map { p =>
        s"""SELECT 'ivf' AS arm, $p::BIGINT AS n_probe,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM
           |  (SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id
           |       ORDER BY cos DESC, neighbor_id) AS rk
           |   FROM tvsc WHERE pr <= $p) WHERE rk <= 10) t
           |JOIN tbtt USING (query_id, neighbor_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, embedding FROM embeddings, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(embedding[d + 1]::DOUBLE * 1e6, 0)::BIGINT AS q
         |  FROM embeddings CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |tbtq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |tbtc AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |  FROM embeddings),
         |tbts AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM tbtc CROSS JOIN tbtq WHERE query_id <> neighbor_id),
         |tbtt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM tbts) WHERE rank <= 10),
         |tbtn AS (SELECT count(*)::BIGINT AS n_truth FROM tbtt),
         |tprall AS (SELECT vec_id AS query_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS pr
         |  FROM dall WHERE vec_id < 20),
         |tvcand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.pr
         |  FROM tprall p JOIN asg a USING (cell)
         |  WHERE p.query_id <> a.vec_id),
         |tvsc AS (SELECT query_id, neighbor_id, pr,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM tvcand JOIN embeddings eq ON eq.vec_id = query_id
         |              JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |tarm AS ($armUnions),
         |tcard AS (SELECT arm, n_probe, n_hits, n_truth,
         |  CASE WHEN n_truth = 0 THEN 0
         |       ELSE (2 * n_hits * 1000000 + n_truth) // (2 * n_truth)
         |  END AS recall_micro
         |  FROM tarm CROSS JOIN tbtn),
         |tpick AS (SELECT n_probe, n_hits, n_truth, recall_micro,
         |  recall_micro >= 900000 AS target_met,
         |  row_number() OVER (ORDER BY (recall_micro >= 900000) DESC,
         |    CASE WHEN recall_micro >= 900000 THEN n_probe
         |         ELSE -n_probe END) AS rk
         |  FROM tcard)
         |SELECT 900000::BIGINT AS target_micro, n_probe, n_hits,
         |  n_truth, recall_micro, target_met
         |FROM tpick WHERE rk = 1""".stripMargin
    },
    "q_ann_tune_rerank" -> {
      // the rerank sweep off ONE shared IVFADC oracle chain: the ADC
      // ranking (rk) and the exact-cosine scores (scored) are built
      // once at the LARGEST shortlist (8*10); each multiplier arm is
      // that chain cut at rank <= r*10 and re-ranked by cosine —
      // exactly ivfAdcTopK(rerank = r) — then the pick replays the
      // tuner's window (cheapest meeting 750000, best-effort max)
      val armUnions = Seq(1, 2, 4, 8).map { r =>
        s"""SELECT 'ivfadc' AS arm, $r::BIGINT AS rerank,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM (
           |   SELECT s.query_id, s.neighbor_id,
           |     row_number() OVER (PARTITION BY s.query_id
           |       ORDER BY s.cos DESC, s.neighbor_id) AS rrk
           |   FROM scored s JOIN rk USING (query_id, neighbor_id)
           |   WHERE rk.rank <= ${r * 10}) WHERE rrk <= 10) t
           |JOIN btt USING (query_id, neighbor_id)""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""${ivfAdcOracleCtes("vec_id < 20", 80)},
         |btq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |btc AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |  FROM embeddings),
         |bts AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM btc CROSS JOIN btq WHERE query_id <> neighbor_id),
         |btt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM bts) WHERE rank <= 10),
         |btn AS (SELECT count(*)::BIGINT AS n_truth FROM btt),
         |aarm AS ($armUnions),
         |acard AS (SELECT arm, rerank, n_hits, n_truth,
         |  CASE WHEN n_truth = 0 THEN 0
         |       ELSE (2 * n_hits * 1000000 + n_truth) // (2 * n_truth)
         |  END AS recall_micro
         |  FROM aarm CROSS JOIN btn),
         |apick AS (SELECT rerank, n_hits, n_truth, recall_micro,
         |  recall_micro >= 750000 AS target_met,
         |  row_number() OVER (ORDER BY (recall_micro >= 750000) DESC,
         |    CASE WHEN recall_micro >= 750000 THEN rerank
         |         ELSE -rerank END) AS prk
         |  FROM acard)
         |SELECT 750000::BIGINT AS target_micro, rerank, n_hits,
         |  n_truth, recall_micro, target_met
         |FROM apick WHERE prk = 1""".stripMargin
    },
    "q_ann_recall_filtered" -> {
      // the filtered recall card: ground truth = brute top-k over the
      // label-filter SURVIVORS, the filtered IVF sweep's candidates
      // restricted to survivors off the shared coarse chain, the
      // filtered IVFADC arm from its own rk2 tail (corpusPred pushes
      // the label filter into its candidate set)
      def cosSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      val armUnions = (Seq(1, 4, 16).map { p =>
        s"""SELECT 'ivf_f' AS arm, $p::BIGINT AS n_probe,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM
           |  (SELECT query_id, neighbor_id,
           |     row_number() OVER (PARTITION BY query_id
           |       ORDER BY cos DESC, neighbor_id) AS rk
           |   FROM fvsc WHERE pr <= $p) WHERE rk <= 10) t
           |JOIN fbtt USING (query_id, neighbor_id)""".stripMargin
      } :+
        s"""SELECT 'ivfadc_f' AS arm, 4::BIGINT AS n_probe,
           |  count(*)::BIGINT AS n_hits
           |FROM (SELECT query_id, neighbor_id FROM rk2
           |      WHERE rank <= 10) t
           |JOIN fbtt USING (query_id, neighbor_id)""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""${ivfAdcOracleCtes("vec_id < 20", 80, "ce.label % 3 = 0")},
         |fbtq AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |fbtc AS (SELECT vec_id AS neighbor_id, embedding AS cv
         |  FROM embeddings WHERE label % 3 = 0),
         |fbts AS (SELECT query_id, neighbor_id,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM fbtc CROSS JOIN fbtq WHERE query_id <> neighbor_id),
         |fbtt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM fbts) WHERE rank <= 10),
         |fbtn AS (SELECT count(*)::BIGINT AS n_truth FROM fbtt),
         |fprall AS (SELECT vec_id AS query_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS pr
         |  FROM gdall WHERE vec_id < 20),
         |fvcand AS (SELECT p.query_id, a.vec_id AS neighbor_id, p.pr
         |  FROM fprall p JOIN gasg a USING (cell)
         |  JOIN embeddings sv ON sv.vec_id = a.vec_id
         |  WHERE p.query_id <> a.vec_id AND sv.label % 3 = 0),
         |fvsc AS (SELECT query_id, neighbor_id, pr,
         |  ${cosSql("eq", "ec")} /
         |  (sqrt(${cosSql("eq", "eq")}) * sqrt(${cosSql("ec", "ec")})) AS cos
         |  FROM fvcand JOIN embeddings eq ON eq.vec_id = query_id
         |              JOIN embeddings ec ON ec.vec_id = neighbor_id),
         |farmhits AS ($armUnions)
         |SELECT arm, n_probe, n_hits, n_truth,
         |  CASE WHEN n_truth = 0 THEN 0
         |       ELSE (2 * n_hits * 1000000 + n_truth) // (2 * n_truth)
         |  END AS recall_micro
         |FROM farmhits CROSS JOIN fbtn
         |ORDER BY arm, n_probe""".stripMargin
    },

    "q_hard_negatives_adc" ->
      // the IVFADC arm of hard-negative mining: the same residual
      // read path at k = n + margin = 13 (shortlist 8*13 = 104),
      // then the q_hard_negatives exclusion + re-rank tail
      s"""${ivfAdcOracleCtes("vec_id < 10", 104)},
         |keep AS (SELECT query_id, neighbor_id, cos, rank FROM rk2
         |  WHERE rank <= 13 AND neighbor_id <> query_id + 100),
         |rr AS (SELECT query_id, neighbor_id, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rank) AS nr
         |  FROM keep)
         |SELECT query_id AS anchor_id, nr::BIGINT AS neg_rank,
         |  neighbor_id AS negative_id, round(cos, 6) AS cosine
         |FROM rr WHERE nr <= 5 ORDER BY anchor_id, neg_rank""".stripMargin,

    "q_cluster_sample" -> {
      // replays the SemDeDup quantizer recipe over the PLAIN embedding
      // table (normalize, hash-subsample, 5 Lloyd iterations, nearest-
      // cell assignment — the shared lloydChain), then the q_sample_k
      // salted-hash rank pick per cell
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      s"""WITH nrm AS (SELECT vec_id, embedding,
         |  list_transform(range(1, 65), i -> embedding[i]::DOUBLE /
         |    sqrt(${dotSql("e0", "e0")})) AS nv
         |  FROM embeddings e0),
         |cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM embeddings),
         |samp AS (SELECT vec_id, nv FROM nrm, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(nv[d + 1] * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(nv[d + 1] * 1e6, 0)::BIGINT AS q
         |  FROM nrm CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |asg AS (SELECT vec_id, cell::BIGINT AS cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |pk AS (SELECT vec_id, cell,
         |  row_number() OVER (PARTITION BY cell ORDER BY
         |    ${hash56("'pick' || ':' || 'graft' || ':' || vec_id::VARCHAR")},
         |    vec_id) AS pick_rank
         |  FROM asg)
         |SELECT vec_id, cell, pick_rank::INT AS pick_rank FROM pk
         |WHERE pick_rank <= 10 ORDER BY cell, pick_rank""".stripMargin
    },

    "q_semdedup" -> {
      // replays SemDedup.semDedup(nCells=16, threshold=0.95, iters=5):
      // direction-normalize, fixed-point k-means on the normalized
      // vectors (shared lloydChain), intra-cell cosine pairs, min-id
      // keep decision
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> x * 1.25::FLOAT)
         |  FROM embeddings),
         |nrm AS (SELECT vec_id, embedding,
         |  list_transform(range(1, 65), i -> embedding[i]::DOUBLE /
         |    sqrt(${dotSql("corp", "corp")})) AS nv
         |  FROM corp),
         |cnt AS (SELECT greatest(1, count(*) // 4096) AS rate FROM corp),
         |samp AS (SELECT vec_id, nv FROM nrm, cnt
         |  WHERE rate <= 1 OR (vec_id * 2654435761) % 1000003 % rate = 0),
         |eqs AS (SELECT vec_id, d, round(nv[d + 1] * 1e6, 0)::BIGINT AS q
         |  FROM samp CROSS JOIN range(64) t(d)),
         |c0 AS (SELECT s.cell, e.d, e.q FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cell
         |    FROM samp ORDER BY vec_id LIMIT 16) s
         |  JOIN eqs e USING (vec_id)),
         |${lloydChain(5)},
         |eqa AS (SELECT vec_id, d, round(nv[d + 1] * 1e6, 0)::BIGINT AS q
         |  FROM nrm CROSS JOIN range(64) t(d)),
         |dall AS (SELECT v.vec_id, c.cell, sum((v.q - c.q) * (v.q - c.q)) AS dist
         |  FROM eqa v JOIN c5 c ON v.d = c.d GROUP BY 1, 2),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
         |  FROM dall) WHERE rn = 1),
         |pr AS (SELECT a.vec_id AS ida, b.vec_id AS idb
         |  FROM asg a JOIN asg b USING (cell) WHERE a.vec_id < b.vec_id),
         |sc AS (SELECT ida, idb FROM pr
         |  JOIN corp ea ON ea.vec_id = ida JOIN corp eb ON eb.vec_id = idb
         |  WHERE ${dotSql("ea", "eb")} /
         |    (sqrt(${dotSql("ea", "ea")}) * sqrt(${dotSql("eb", "eb")})) >= 0.95),
         |dup AS (SELECT idb AS vec_id, count(*)::BIGINT AS n_dups, min(ida) AS keep
         |  FROM sc GROUP BY 1)
         |SELECT a.vec_id, a.cell, coalesce(n_dups, 0) AS n_dups,
         |  coalesce(keep, a.vec_id) AS keep_id,
         |  (CASE WHEN n_dups IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS is_dup
         |FROM asg a LEFT JOIN dup USING (vec_id) ORDER BY vec_id""".stripMargin
    },

    "q_neardup_cosine" -> {
      def dotSql(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE))"
      s"""WITH corp AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(embedding, x -> x * 1.25::FLOAT)
         |  FROM embeddings),
         |proj AS (SELECT j, list(w ORDER BY d) AS wv FROM (
         |  SELECT j, d,
         |    (((j + 1) * 2654435761 + (d + 1) * 40503) % 1000003) / 1000003.0 - 0.5 AS w
         |  FROM range(64) tj(j) CROSS JOIN range(64) td(d)) GROUP BY j),
         |bits AS (SELECT vec_id, j,
         |  CASE WHEN list_sum(list_transform(range(1, 65),
         |    i -> embedding[i]::DOUBLE * wv[i])) > 0 THEN 1 ELSE 0 END AS bit
         |  FROM corp CROSS JOIN proj),
         |sig AS (SELECT vec_id, list(bit ORDER BY j) AS bl FROM bits GROUP BY vec_id),
         |bk AS (SELECT vec_id, unnest(list_transform(range(0, 8),
         |  b -> b::VARCHAR || ':' ||
         |       array_to_string(list_slice(bl, 8 * b + 1, 8 * b + 8), ':'))) AS k
         |  FROM sig),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM bk a JOIN bk b ON a.k = b.k AND a.vec_id < b.vec_id),
         |scored AS (SELECT id_a, id_b,
         |  round(${dotSql("ea", "eb")} /
         |    (sqrt(${dotSql("ea", "ea")}) * sqrt(${dotSql("eb", "eb")})), 6) AS cosine
         |  FROM cand JOIN corp ea ON ea.vec_id = id_a
         |            JOIN corp eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_frames" -> {
      // mirrors syntheticCorpus + the REAL P6 decode in
      // Multimodal.sampleFrames(n=4): the corpus pixel payload is the
      // document's UTF-8 bytes cyclically filled to w0*h0*3, so frame i
      // is pixel row (i*(h0-1))//3 of that grid — rebuilt here in hex
      // space (hex of repeated bytes = repeated hex, slices 2 chars per
      // byte, byte-aligned in both engines).
      s"""WITH m AS (SELECT doc_id::BIGINT AS sample_id,
         |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |       ELSE 'video' END AS modality,
         |  (doc_id % 13) + 4 AS w0, (doc_id % 11) + 4 AS h0,
         |  hex(encode(text || '.')) AS thx,
         |  octet_length(encode(text || '.')) AS blen
         |  FROM documents),
         |px AS (SELECT sample_id, modality, w0, h0,
         |  substr(repeat(thx, ((w0*h0*3 + blen - 1) // blen)::INT),
         |         1, w0*h0*3*2) AS pxhex
         |  FROM m)
         |SELECT sample_id, modality, i::INT AS frame_idx,
         |  substr(pxhex, ((i * (h0 - 1)) // 3)::INT * w0 * 3 * 2 + 1, w0 * 3 * 2)
         |    AS frame_hex
         |FROM px CROSS JOIN range(4) t(i)
         |ORDER BY sample_id, frame_idx""".stripMargin
    },

    "q_resize" ->
      // mirrors syntheticCorpus + the REAL P6 resize in
      // Multimodal.resize(32, 32): nearest-neighbour source pixel
      // (floor(tx*w0/32), floor(ty*h0/32)) per target byte, re-encoded
      // with the fixed 13-byte "P6\\n32 32\\n255\\n" header; content_hex
      // pins every output byte.
      """WITH m AS (SELECT doc_id::BIGINT AS sample_id,
        |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  (doc_id % 13) + 4 AS w0, (doc_id % 11) + 4 AS h0,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents),
        |px AS (SELECT sample_id, modality, w0, h0,
        |  substr(repeat(thx, ((w0*h0*3 + blen - 1) // blen)::INT),
        |         1, w0*h0*3*2) AS pxhex
        |  FROM m),
        |rz AS (SELECT sample_id, modality,
        |  array_to_string(list_transform(range(0, 32*32*3), j ->
        |    substr(pxhex,
        |      ((((j // 96) * h0) // 32) * w0
        |        + (((j // 3) % 32) * w0) // 32) * 3 * 2 + (j % 3) * 2 + 1,
        |      2)), '') AS rzhex
        |  FROM px)
        |SELECT sample_id, modality, 32::INT AS width, 32::INT AS height,
        |  (13 + 32*32*3)::INT AS n_bytes,
        |  hex(encode('P6' || chr(10) || '32 32' || chr(10) || '255' || chr(10)))
        |    || rzhex AS content_hex
        |FROM rz ORDER BY sample_id""".stripMargin,

    "q_audio_energy" ->
      // mirrors Multimodal.audioEnergyWindows(w=8, thr=2500) over the
      // synthetic WAV corpus: data byte i = (text || '.')[i mod len],
      // n = doc_id%40+20 samples, centered amplitude = byte - 128 —
      // regenerated from text (ASCII: code points ARE the bytes)
      """WITH b AS (SELECT doc_id, text || '.' AS s,
        |    (doc_id % 40 + 20)::INT AS n FROM documents),
        |ix AS (SELECT doc_id, s, unnest(range(n)) AS i FROM b),
        |v AS (SELECT doc_id, (i // 8)::INT AS win_idx,
        |  (ord(substr(s, (i % len(s) + 1)::INT, 1)) - 128)::BIGINT AS v
        |  FROM ix),
        |g AS (SELECT doc_id AS sample_id, win_idx, count(*)::INT AS n_samples,
        |  sum(v * v)::BIGINT AS energy FROM v GROUP BY 1, 2)
        |SELECT sample_id, win_idx, n_samples, energy,
        |  energy < 2500 * n_samples AS silent
        |FROM g ORDER BY sample_id, win_idx""".stripMargin,

    "q_audio_trim" ->
      // mirrors Multimodal.audioTrim(w=8, thr=2500): same window
      // verdicts as q_audio_energy, first/last loud window -> sample
      // bounds, and the kept-span WAV container rebuilt byte-for-byte
      // in VARCHAR space (all bytes <= 0x7F: ASCII data + small header
      // fields — the wavPayloadCte layout with the trimmed length)
      """WITH b AS (SELECT doc_id, text || '.' AS s,
        |    (doc_id % 40 + 20)::INT AS n FROM documents),
        |ix AS (SELECT doc_id, s, n, unnest(range(n)) AS i FROM b),
        |v AS (SELECT doc_id, n, (i // 8)::INT AS w,
        |  (ord(substr(s, (i % len(s) + 1)::INT, 1)) - 128)::BIGINT AS v
        |  FROM ix),
        |g AS (SELECT doc_id, n, w, count(*) AS len, sum(v * v) AS e
        |  FROM v GROUP BY 1, 2, 3),
        |l AS (SELECT doc_id, n, count(*)::INT AS n_windows,
        |  min(CASE WHEN e >= 2500 * len THEN w END) AS fw,
        |  max(CASE WHEN e >= 2500 * len THEN w END) AS lw
        |  FROM g GROUP BY 1, 2),
        |tb AS (SELECT l.doc_id, l.n, n_windows, fw IS NOT NULL AS keep,
        |  coalesce(fw * 8, 0)::BIGINT AS trim_start,
        |  (CASE WHEN lw IS NULL THEN 0
        |    ELSE least(l.n::BIGINT, (lw + 1) * 8) END)::BIGINT AS trim_end,
        |  substr(repeat(b.s, ((l.n + len(b.s) - 1) // len(b.s))::INT),
        |    1, l.n) AS pcm
        |  FROM l JOIN b ON b.doc_id = l.doc_id),
        |pay AS (SELECT doc_id, n_windows, keep, trim_start, trim_end,
        |  (trim_end - trim_start)::BIGINT AS nk,
        |  CASE WHEN keep THEN
        |    'RIFF' ||
        |    chr((36 + (trim_end - trim_start)
        |      + ((trim_end - trim_start) % 2))::INT) ||
        |    chr(0) || chr(0) || chr(0) || 'WAVE' ||
        |    'fmt ' || chr(16) || chr(0) || chr(0) || chr(0) ||
        |    chr(1) || chr(0) || chr(1) || chr(0) ||
        |    chr(64) || chr(31) || chr(0) || chr(0) ||
        |    chr(64) || chr(31) || chr(0) || chr(0) ||
        |    chr(1) || chr(0) || chr(8) || chr(0) ||
        |    'data' || chr((trim_end - trim_start)::INT) ||
        |    chr(0) || chr(0) || chr(0) ||
        |    substr(pcm, trim_start::INT + 1,
        |      (trim_end - trim_start)::INT) ||
        |    CASE WHEN (trim_end - trim_start) % 2 = 1
        |      THEN chr(0) ELSE '' END
        |  ELSE '' END AS pay
        |  FROM tb)
        |SELECT doc_id AS sample_id, n_windows, keep, trim_start,
        |  trim_end, nk AS n_kept, hex(encode(pay)) AS payload_hex
        |FROM pay ORDER BY sample_id""".stripMargin,

    "q_trim_report" ->
      // container accounting over the same trim verdicts: WAV size =
      // 44 header bytes + data + odd-length pad, in and out
      """WITH b AS (SELECT doc_id, text || '.' AS s,
        |    (doc_id % 40 + 20)::INT AS n FROM documents),
        |ix AS (SELECT doc_id, s, n, unnest(range(n)) AS i FROM b),
        |v AS (SELECT doc_id, n, (i // 8)::INT AS w,
        |  (ord(substr(s, (i % len(s) + 1)::INT, 1)) - 128)::BIGINT AS v
        |  FROM ix),
        |g AS (SELECT doc_id, n, w, count(*) AS len, sum(v * v) AS e
        |  FROM v GROUP BY 1, 2, 3),
        |l AS (SELECT doc_id, n,
        |  min(CASE WHEN e >= 2500 * len THEN w END) AS fw,
        |  max(CASE WHEN e >= 2500 * len THEN w END) AS lw
        |  FROM g GROUP BY 1, 2),
        |tb AS (SELECT doc_id, n, fw IS NOT NULL AS keep,
        |  CASE WHEN lw IS NULL THEN 0
        |    ELSE least(n::BIGINT, (lw + 1) * 8) - fw * 8 END AS nk
        |  FROM l)
        |SELECT count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept_docs,
        |  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped_docs,
        |  sum(44 + n + n % 2)::BIGINT AS bytes_in,
        |  sum(CASE WHEN keep THEN 44 + nk + nk % 2 ELSE 0 END)::BIGINT
        |    AS bytes_out,
        |  (sum(44 + n + n % 2) - sum(CASE WHEN keep
        |    THEN 44 + nk + nk % 2 ELSE 0 END))::BIGINT AS bytes_saved
        |FROM tb""".stripMargin,

    "q_media_fp" ->
      // mirrors mixedCorpus + the three decoded fingerprints:
      // image aHash (8x8 nearest, floor-mean strict threshold), audio
      // energy hash (64 sample windows, 64*ssq_j > total exact integer
      // compare; short clips leave trailing windows 0), video
      // first||last frame hash over the mono luma plane. Planted-JPEG
      // rows (%5==2, progressive on %10==7): flat 8x8 tiles
      // v_t = (b_t + 13t) mod 255 collapse to two quadrant-row bytes
      // (the q_image_hash jm..jh chain)
      """WITH m AS (SELECT doc_id::BIGINT AS sample_id, (doc_id % 3) AS md,
        |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  (doc_id % 13) + 4 AS w0, (doc_id % 11) + 4 AS h0,
        |  (doc_id % 50) + 20 AS ns, (doc_id % 4) + 2 AS nf,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 5 <> 2),
        |ipx AS (SELECT sample_id, modality, w0, h0,
        |  substr(repeat(thx, ((w0*h0*3 + blen - 1) // blen)::INT),
        |         1, w0*h0*3*2) AS pxhex
        |  FROM m WHERE md = 0),
        |ic AS (SELECT sample_id, modality, y, x,
        |  (2126 * ('0x' || substr(pxhex, off + 1, 2))::BIGINT +
        |   7152 * ('0x' || substr(pxhex, off + 3, 2))::BIGINT +
        |    722 * ('0x' || substr(pxhex, off + 5, 2))::BIGINT) // 10000
        |    AS luma
        |  FROM (SELECT sample_id, modality, pxhex, y, x,
        |    (((y * h0) // 8) * w0 + (x * w0) // 8)::INT * 6 AS off
        |    FROM ipx CROSS JOIN range(8) ty(y) CROSS JOIN range(8) tx(x))),
        |im AS (SELECT sample_id, sum(luma) // 64 AS mean FROM ic GROUP BY 1),
        |ib AS (SELECT c.sample_id, c.modality, c.y,
        |  sum(CASE WHEN c.luma > im.mean THEN 1 << (7 - c.x)::INT
        |      ELSE 0 END) AS byte
        |  FROM ic c JOIN im USING (sample_id) GROUP BY 1, 2, 3),
        |ih AS (SELECT sample_id, modality,
        |  string_agg(printf('%02X', byte::BIGINT), '' ORDER BY y) AS fp
        |  FROM ib GROUP BY 1, 2),
        |a1 AS (SELECT sample_id, modality, ns, thx, blen FROM m WHERE md = 1),
        |av AS (SELECT sample_id, (i * 64 // ns) AS j,
        |  ('0x' || substr(thx, ((i % blen)::INT) * 2 + 1, 2))::BIGINT AS b
        |  FROM (SELECT sample_id, ns, thx, blen, unnest(range(ns)) AS i
        |        FROM a1)),
        |aw AS (SELECT sample_id, j, sum(b * b) AS ssq FROM av GROUP BY 1, 2),
        |at AS (SELECT sample_id, sum(ssq) AS total FROM aw GROUP BY 1),
        |ab AS (SELECT w.sample_id, w.modality, (w.k // 8) AS r,
        |  sum(CASE WHEN 64 * coalesce(aw.ssq, 0) > at.total
        |      THEN 1 << (7 - (w.k % 8))::INT ELSE 0 END) AS byte
        |  FROM (SELECT sample_id, modality, unnest(range(64)) AS k FROM a1) w
        |  LEFT JOIN aw ON aw.sample_id = w.sample_id AND aw.j = w.k
        |  JOIN at ON at.sample_id = w.sample_id
        |  GROUP BY 1, 2, 3),
        |ah AS (SELECT sample_id, modality,
        |  string_agg(printf('%02X', byte::BIGINT), '' ORDER BY r) AS fp
        |  FROM ab GROUP BY 1, 2),
        |v1 AS (SELECT sample_id, modality, w0, h0, nf, thx, blen
        |  FROM m WHERE md = 2),
        |vc AS (SELECT sample_id, modality, fi, y, x,
        |  ('0x' || substr(repeat(thx, ((nf*w0*h0 + blen - 1) // blen)::INT),
        |    (fi*w0*h0 + ((y * h0) // 8) * w0 + (x * w0) // 8)::INT * 2 + 1, 2)
        |  )::BIGINT AS luma
        |  FROM (SELECT sample_id, modality, w0, h0, nf, thx, blen,
        |    unnest([0, nf - 1]) AS fi FROM v1)
        |  CROSS JOIN range(8) ty(y) CROSS JOIN range(8) tx(x)),
        |vm AS (SELECT sample_id, fi, sum(luma) // 64 AS mean
        |  FROM vc GROUP BY 1, 2),
        |vb AS (SELECT c.sample_id, c.modality, c.fi, c.y,
        |  sum(CASE WHEN c.luma > vm.mean THEN 1 << (7 - c.x)::INT
        |      ELSE 0 END) AS byte
        |  FROM vc c JOIN vm ON vm.sample_id = c.sample_id AND vm.fi = c.fi
        |  GROUP BY 1, 2, 3, 4),
        |vh AS (SELECT sample_id, modality,
        |  string_agg(printf('%02X', byte::BIGINT), '' ORDER BY fi, y) AS fp
        |  FROM vb GROUP BY 1, 2),
        |jm AS (SELECT doc_id::BIGINT AS sample_id,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 5 = 2),
        |jv AS (SELECT sample_id, t,
        |  (('0x' || substr(thx, ((t % blen)::INT) * 2 + 1, 2))::BIGINT
        |    + 13 * t) % 255 AS v
        |  FROM jm CROSS JOIN range(4) tt(t)),
        |jq AS (SELECT sample_id,
        |  max(CASE WHEN t = 0 THEN v END) AS v0,
        |  max(CASE WHEN t = 1 THEN v END) AS v1,
        |  max(CASE WHEN t = 2 THEN v END) AS v2,
        |  max(CASE WHEN t = 3 THEN v END) AS v3
        |  FROM jv GROUP BY 1),
        |jb AS (SELECT sample_id, (v0 + v1 + v2 + v3) // 4 AS mean,
        |  v0, v1, v2, v3 FROM jq),
        |jh AS (SELECT sample_id, 'image' AS modality,
        |  repeat(printf('%02X',
        |    CASE WHEN v0 > mean THEN 240 ELSE 0 END +
        |    CASE WHEN v1 > mean THEN 15 ELSE 0 END), 4) ||
        |  repeat(printf('%02X',
        |    CASE WHEN v2 > mean THEN 240 ELSE 0 END +
        |    CASE WHEN v3 > mean THEN 15 ELSE 0 END), 4) AS fp
        |  FROM jb)
        |SELECT sample_id, modality, 1 AS decoded, fp AS fingerprint
        |FROM (SELECT * FROM ih UNION ALL SELECT * FROM ah
        |      UNION ALL SELECT * FROM vh UNION ALL SELECT * FROM jh)
        |ORDER BY sample_id""".stripMargin,

    "q_image_hash" ->
      // mirrors syntheticCorpus + Ppm.aHash: 8x8 nearest-neighbour
      // source indexes into the cyclic pixel hex, integer Rec.709
      // luma, floor-mean threshold (strict >), MSB-first row bytes.
      // Planted-JPEG rows (%5==2): flat 8x8 tiles v_t = (b_t + 13t)
      // mod 255 — the 8x8 resize of a 16x16 flat-quadrant image
      // samples one tile per quadrant, gray luma == pixel value, so
      // the aHash collapses to two quadrant-row bytes
      """WITH m AS (SELECT doc_id::BIGINT AS sample_id,
        |  CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  (doc_id % 13) + 4 AS w0, (doc_id % 11) + 4 AS h0,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 5 <> 2),
        |px AS (SELECT sample_id, modality, w0, h0,
        |  substr(repeat(thx, ((w0*h0*3 + blen - 1) // blen)::INT),
        |         1, w0*h0*3*2) AS pxhex
        |  FROM m),
        |cells AS (SELECT sample_id, modality, y, x,
        |  (2126 * ('0x' || substr(pxhex, off + 1, 2))::BIGINT +
        |   7152 * ('0x' || substr(pxhex, off + 3, 2))::BIGINT +
        |    722 * ('0x' || substr(pxhex, off + 5, 2))::BIGINT) // 10000
        |    AS luma
        |  FROM (SELECT sample_id, modality, pxhex, y, x,
        |    (((y * h0) // 8) * w0 + (x * w0) // 8)::INT * 6 AS off
        |    FROM px CROSS JOIN range(8) ty(y) CROSS JOIN range(8) tx(x))),
        |mn AS (SELECT sample_id, sum(luma) // 64 AS mean
        |  FROM cells GROUP BY 1),
        |bits AS (SELECT c.sample_id, c.modality, c.y,
        |  sum(CASE WHEN c.luma > mn.mean THEN 1 << (7 - c.x)::INT
        |      ELSE 0 END) AS byte
        |  FROM cells c JOIN mn USING (sample_id) GROUP BY 1, 2, 3),
        |h AS (SELECT sample_id, modality,
        |  string_agg(printf('%02X', byte::BIGINT), '' ORDER BY y) AS ahash
        |  FROM bits GROUP BY 1, 2),
        |jm AS (SELECT doc_id::BIGINT AS sample_id,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 5 = 2),
        |jv AS (SELECT sample_id, t,
        |  (('0x' || substr(thx, ((t % blen)::INT) * 2 + 1, 2))::BIGINT
        |    + 13 * t) % 255 AS v
        |  FROM jm CROSS JOIN range(4) tt(t)),
        |jq AS (SELECT sample_id,
        |  max(CASE WHEN t = 0 THEN v END) AS v0,
        |  max(CASE WHEN t = 1 THEN v END) AS v1,
        |  max(CASE WHEN t = 2 THEN v END) AS v2,
        |  max(CASE WHEN t = 3 THEN v END) AS v3
        |  FROM jv GROUP BY 1),
        |jb AS (SELECT sample_id, (v0 + v1 + v2 + v3) // 4 AS mean,
        |  v0, v1, v2, v3 FROM jq),
        |jh AS (SELECT sample_id, 'image' AS modality, 1 AS decoded,
        |  repeat(printf('%02X',
        |    CASE WHEN v0 > mean THEN 240 ELSE 0 END +
        |    CASE WHEN v1 > mean THEN 15 ELSE 0 END), 4) ||
        |  repeat(printf('%02X',
        |    CASE WHEN v2 > mean THEN 240 ELSE 0 END +
        |    CASE WHEN v3 > mean THEN 15 ELSE 0 END), 4) AS ahash
        |  FROM jb)
        |SELECT sample_id, modality, 1 AS decoded, ahash FROM h
        |UNION ALL
        |SELECT sample_id, modality, decoded, ahash FROM jh
        |ORDER BY sample_id""".stripMargin,

    "q_resample" ->
      // mirrors mixedCorpus audio rows + Wav.resampleLinear(4000):
      // m = ns*4000//8000 output samples; out[j] reads exact rational
      // position j*(ns-1)/(m-1) with two-tap half-away interpolation —
      // all integer arithmetic, byte-for-byte in hex space
      s"""WITH m AS (SELECT doc_id::BIGINT AS sample_id,
         |  (doc_id % 50) + 20 AS ns,
         |  ((doc_id % 50) + 20) * 4000 // 8000 AS m2,
         |  hex(encode(text || '.')) AS thx,
         |  octet_length(encode(text || '.')) AS blen
         |  FROM documents WHERE doc_id % 3 = 1),
         |pos AS (SELECT sample_id, thx, blen, m2,
         |  unnest(range(m2)) AS j, ns FROM m),
         |p2 AS (SELECT sample_id, thx, blen, m2, j,
         |  (j * (ns - 1)) // (m2 - 1) AS i,
         |  (j * (ns - 1)) % (m2 - 1) AS frac,
         |  (m2 - 1) AS den FROM pos),
         |v AS (SELECT sample_id, m2, j,
         |  CASE WHEN frac = 0
         |    THEN ('0x' || substr(thx, ((i % blen)::INT) * 2 + 1, 2))::BIGINT
         |    ELSE (2 * (
         |      ('0x' || substr(thx, ((i % blen)::INT) * 2 + 1, 2))::BIGINT
         |        * (den - frac) +
         |      ('0x' || substr(thx, (((i + 1) % blen)::INT) * 2 + 1, 2))::BIGINT
         |        * frac) + den) // (2 * den)
         |  END AS val FROM p2),
         |hx AS (SELECT sample_id, max(m2) AS m2,
         |  string_agg(printf('%02X', val) || '00', '' ORDER BY j) AS data_hex
         |  FROM v GROUP BY 1)
         |SELECT sample_id, 4000::INT AS sample_rate,
         |  (m2 * 1000 // 4000)::INT AS duration_ms,
         |  (44 + 2 * m2)::INT AS n_bytes, data_hex
         |FROM hx ORDER BY sample_id""".stripMargin,

    "q_media_mixed" ->
      // mirrors mixedCorpus + the REAL decode in all four codecs:
      // image frames are pixel rows 0 and h0-1 of the cyclic P6 grid;
      // audio frames are the first / last 8 decoded 16-bit samples
      // (little-endian: doc byte, then a zero high byte); video frames
      // are actual stream frames 0 and nf-1 (w0*h0 cyclic bytes each).
      // Planted-JPEG rows (%7==3, round 10): DC-only flat tiles keep
      // the lossy decode SQL-derivable — gray rows (even id) decode to
      // v_t = (b_t + 13t) mod 255 per 8x8 tile; color rows (odd id)
      // decode quadrant YCbCr (Y_k = (b_k + 17k) mod 255, Cb = b_4 mod
      // 255, Cr = b_5 mod 255) through BT.601 with clamp8 =
      // clamp(floor(x + 0.5)) — Math.round semantics. Frames are rows
      // 0 and 15: the top / bottom tile (or Y-block) pair. All rebuilt
      // in hex space; decoded=1 pins that no row fell back to the stub
      // path.
      """WITH m AS (SELECT doc_id::BIGINT AS sample_id, (doc_id % 3) AS md,
        |  (doc_id % 13) + 4 AS w0, (doc_id % 11) + 4 AS h0,
        |  (doc_id % 50) + 20 AS ns, (doc_id % 4) + 2 AS nf,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 7 <> 3),
        |img AS (SELECT sample_id, 'image' AS modality, i::INT AS frame_idx,
        |  substr(repeat(thx, ((w0*h0*3 + blen - 1) // blen)::INT),
        |         (i * (h0 - 1))::INT * w0 * 3 * 2 + 1, w0 * 3 * 2) AS frame_hex
        |  FROM m CROSS JOIN range(2) t(i) WHERE md = 0),
        |aud AS (SELECT sample_id, 'audio' AS modality, i::INT AS frame_idx,
        |  array_to_string(list_transform(range(0, 8), j ->
        |    substr(thx, (((i * (ns - 8)) + j) % blen)::INT * 2 + 1, 2) || '00'),
        |    '') AS frame_hex
        |  FROM m CROSS JOIN range(2) t(i) WHERE md = 1),
        |vid AS (SELECT sample_id, 'video' AS modality, i::INT AS frame_idx,
        |  substr(repeat(thx, ((nf*w0*h0 + blen - 1) // blen)::INT),
        |         (i * (nf - 1))::INT * w0 * h0 * 2 + 1, w0 * h0 * 2) AS frame_hex
        |  FROM m CROSS JOIN range(2) t(i) WHERE md = 2),
        |jm AS (SELECT doc_id::BIGINT AS sample_id, doc_id % 2 AS odd,
        |  hex(encode(text || '.')) AS thx,
        |  octet_length(encode(text || '.')) AS blen
        |  FROM documents WHERE doc_id % 7 = 3),
        |ju AS (SELECT sample_id, odd, k,
        |  ('0x' || substr(thx, ((k % blen)::INT) * 2 + 1, 2))::BIGINT AS u
        |  FROM jm CROSS JOIN range(6) kk(k)),
        |jpiv AS (SELECT sample_id, odd,
        |  max(CASE WHEN k = 0 THEN u END) AS u0,
        |  max(CASE WHEN k = 1 THEN u END) AS u1,
        |  max(CASE WHEN k = 2 THEN u END) AS u2,
        |  max(CASE WHEN k = 3 THEN u END) AS u3,
        |  max(CASE WHEN k = 4 THEN u END) AS u4,
        |  max(CASE WHEN k = 5 THEN u END) AS u5
        |  FROM ju GROUP BY 1, 2),
        |jgray AS (SELECT sample_id, i::INT AS frame_idx,
        |  repeat(printf('%02X',
        |    ((CASE WHEN i = 0 THEN u0 ELSE u2 END) + 13 * (2*i)) % 255), 24) ||
        |  repeat(printf('%02X',
        |    ((CASE WHEN i = 0 THEN u1 ELSE u3 END) + 13 * (2*i + 1)) % 255), 24)
        |    AS frame_hex
        |  FROM jpiv CROSS JOIN range(2) t(i) WHERE odd = 0),
        |jyc AS (SELECT sample_id, b.k AS blk,
        |  ((CASE b.k WHEN 0 THEN u0 WHEN 1 THEN u1 WHEN 2 THEN u2 ELSE u3 END)
        |    + 17 * b.k) % 255 AS yv,
        |  u4 % 255 - 128 AS cbc, u5 % 255 - 128 AS crc
        |  FROM jpiv CROSS JOIN range(4) b(k) WHERE odd = 1),
        |jrgb AS (SELECT sample_id, blk, printf('%02X%02X%02X',
        |    least(255, greatest(0, floor(yv + 1.402 * crc + 0.5)))::BIGINT,
        |    least(255, greatest(0, floor(yv - 0.344136 * cbc - 0.714136 * crc + 0.5)))::BIGINT,
        |    least(255, greatest(0, floor(yv + 1.772 * cbc + 0.5)))::BIGINT) AS px
        |  FROM jyc),
        |jcolor AS (SELECT sample_id, i::INT AS frame_idx,
        |  repeat(max(CASE WHEN blk = 2*i THEN px END), 8) ||
        |  repeat(max(CASE WHEN blk = 2*i + 1 THEN px END), 8) AS frame_hex
        |  FROM jrgb CROSS JOIN range(2) t(i) GROUP BY sample_id, i),
        |jpg AS (SELECT sample_id, 'image' AS modality, frame_idx, frame_hex
        |  FROM jgray UNION ALL
        |  SELECT sample_id, 'image', frame_idx, frame_hex FROM jcolor)
        |SELECT sample_id, modality, frame_idx, 1 AS decoded, frame_hex
        |FROM (SELECT * FROM img UNION ALL SELECT * FROM aud
        |      UNION ALL SELECT * FROM vid UNION ALL SELECT * FROM jpg)
        |ORDER BY sample_id, frame_idx""".stripMargin,

    "q_contamination" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |sh AS (SELECT doc_id, ${shinglesExpr("toks", 3)} AS gs FROM t),
         |dg AS (SELECT doc_id, n_grams, ${hash56("g")} AS h FROM
         |  (SELECT doc_id, len(gs)::BIGINT AS n_grams, unnest(gs) AS g
         |   FROM sh WHERE len(gs) > 0 AND doc_id % 10 <> 0)),
         |bg AS (SELECT DISTINCT bid, ${hash56("g")} AS h FROM
         |  (SELECT doc_id AS bid, unnest(gs) AS g FROM sh WHERE doc_id % 10 = 0)),
         |a AS (SELECT doc_id, max(n_grams) AS n_grams,
         |    count(DISTINCT CASE WHEN bid IS NOT NULL THEN h END) AS n_matched,
         |    count(DISTINCT bid) AS n_bench_docs
         |  FROM dg LEFT JOIN bg USING (h) GROUP BY doc_id),
         |f AS (SELECT doc_id, n_grams, n_matched::BIGINT AS n_matched,
         |    n_bench_docs::BIGINT AS n_bench_docs,
         |    round(n_matched::DOUBLE / n_grams, 9) AS contam_frac
         |  FROM a)
         |SELECT doc_id, n_grams, n_matched, n_bench_docs, contam_frac,
         |  CASE WHEN contam_frac >= 0.1::DOUBLE THEN 1 ELSE 0 END::BIGINT
         |    AS contaminated
         |FROM f ORDER BY doc_id""".stripMargin,

    "q_chunk_dedup" ->
      // mirrors Rewrite.chunkDedup(k=3): non-overlapping 3-token
      // chunks; a chunk survives only at its minimum (doc_id,
      // chunk_idx) corpus occurrence; docs rebuilt in chunk order,
      // token-less / fully-deduped docs restored with empty text
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |d AS (SELECT doc_id, toks, ((len(toks) + 2) // 3) AS nc
         |  FROM t WHERE len(toks) > 0),
         |occ AS (SELECT doc_id, unnest(range(nc)) AS i, toks FROM d),
         |c AS (SELECT doc_id, i AS chunk_idx, array_to_string(
         |    list_slice(toks, i*3 + 1, i*3 + 3), ' ') AS chunk FROM occ),
         |surv AS (SELECT doc_id, chunk_idx, chunk FROM (
         |  SELECT doc_id, chunk_idx, chunk, row_number() OVER (
         |    PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn FROM c)
         |  WHERE rn = 1),
         |reb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx)
         |    AS txt, count(*) AS kept FROM surv GROUP BY 1),
         |tot AS (SELECT doc_id, ((len(toks) + 2) // 3)::INT AS n_chunks FROM t)
         |SELECT tot.doc_id, coalesce(reb.txt, '') AS text,
         |  coalesce(reb.kept, 0)::BIGINT AS n_kept, tot.n_chunks
         |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      // mirrors Rewrite.stripBoilerplate(k=3, maxDf=4): chunks in >4
      // distinct docs dropped everywhere, same reassembly
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |d AS (SELECT doc_id, toks, ((len(toks) + 2) // 3) AS nc
         |  FROM t WHERE len(toks) > 0),
         |occ AS (SELECT doc_id, unnest(range(nc)) AS i, toks FROM d),
         |c AS (SELECT doc_id, i AS chunk_idx, array_to_string(
         |    list_slice(toks, i*3 + 1, i*3 + 3), ' ') AS chunk FROM occ),
         |keep AS (SELECT chunk FROM (SELECT chunk,
         |    count(DISTINCT doc_id) AS df FROM c GROUP BY 1) WHERE df <= 4),
         |surv AS (SELECT c.doc_id, c.chunk_idx, c.chunk
         |  FROM c JOIN keep USING (chunk)),
         |reb AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_idx)
         |    AS txt, count(*) AS kept FROM surv GROUP BY 1),
         |tot AS (SELECT doc_id, ((len(toks) + 2) // 3)::INT AS n_chunks FROM t)
         |SELECT tot.doc_id, coalesce(reb.txt, '') AS text,
         |  coalesce(reb.kept, 0)::BIGINT AS n_kept, tot.n_chunks
         |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_span_dedup" ->
      // mirrors Rewrite.spanDedup(k=5): stride-1 5-token shingles; a
      // token is removed iff some covering shingle occurs >= 2 times
      // corpus-wide and this occurrence is not the shingle's minimum
      // (doc_id, start); docs rebuilt from surviving tokens in order
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
         |  FROM t WHERE len(toks) > 0),
         |tk AS (SELECT doc_id, pos, toks[pos + 1] AS token FROM tok),
         |so AS (SELECT doc_id, unnest(range(len(toks) - 4)) AS start, toks
         |  FROM t WHERE len(toks) >= 5),
         |sh AS (SELECT doc_id, start, array_to_string(
         |    list_slice(toks, start + 1, start + 5), ' ') AS shingle FROM so),
         |rnk AS (SELECT doc_id, start,
         |    row_number() OVER (PARTITION BY shingle
         |      ORDER BY doc_id, start) AS rn,
         |    count(*) OVER (PARTITION BY shingle) AS cnt FROM sh),
         |remocc AS (SELECT doc_id, start FROM rnk WHERE cnt >= 2 AND rn > 1),
         |rpos AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(generate_series(start, start + 4)) AS pos
         |  FROM remocc)),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.token FROM tk
         |  ANTI JOIN rpos ON tk.doc_id = rpos.doc_id AND tk.pos = rpos.pos),
         |reb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS txt,
         |    count(*) AS kept FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, len(toks)::INT AS n_tokens FROM t)
         |SELECT tot.doc_id, coalesce(reb.txt, '') AS text,
         |  coalesce(reb.kept, 0)::BIGINT AS n_kept, tot.n_tokens
         |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_hash_split" ->
      s"""WITH b AS (SELECT doc_id,
         |  ${hash56("'graft:' || doc_id::VARCHAR")} % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 900 THEN 'train'
         |       WHEN bucket < 950 THEN 'valid' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    // the oracle builds the EXPECTED canonical form from the raw
    // columns (the WET-extraction oracle pattern): /source/x/../id/./
    // resolves to /source/id/, %41->A and %7e->~ decode (unreserved),
    // %20 stays but uppercases, port 80 and the fragment vanish
    "q_url_canon" ->
      """SELECT doc_id,
        |  'http://crawl.example.com/' || source || '/' ||
        |    doc_id::VARCHAR || '/Asset-~v?q=%20raw&u=~' AS url
        |FROM documents ORDER BY doc_id""".stripMargin,

    // upsert replay: the struct-max total order (ts, side, del, text)
    // becomes one descending row_number window; tombstone winners drop
    "q_merge_corpus" ->
      """WITH cur AS (SELECT doc_id, doc_id * 10 AS ts, text,
        |               0 AS side, FALSE AS del FROM documents),
        |ref AS (SELECT doc_id, doc_id * 10 + 5 AS ts, 'v2 ' || text AS text,
        |          1 AS side, FALSE AS del FROM documents WHERE doc_id % 4 = 0),
        |stale AS (SELECT doc_id, doc_id * 10 - 5 AS ts, 'old ' || text AS text,
        |          1 AS side, FALSE AS del FROM documents WHERE doc_id % 6 = 1),
        |dels AS (SELECT doc_id, doc_id * 10 + 7 AS ts, '' AS text,
        |          1 AS side, TRUE AS del FROM documents WHERE doc_id % 10 = 2),
        |news AS (SELECT doc_id + 100000 AS doc_id, doc_id * 10 AS ts, text,
        |          1 AS side, FALSE AS del FROM documents WHERE doc_id % 7 = 3),
        |u AS (SELECT * FROM cur UNION ALL SELECT * FROM ref
        |      UNION ALL SELECT * FROM stale UNION ALL SELECT * FROM dels
        |      UNION ALL SELECT * FROM news),
        |w AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY ts DESC, side DESC, del DESC, text DESC) AS rn,
        |        max(CASE WHEN side = 0 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id) AS hadcur
        |      FROM u)
        |SELECT doc_id, ts, text,
        |  CASE WHEN hadcur = 0 THEN 'inserted'
        |       WHEN side = 1 THEN 'updated'
        |       ELSE 'kept' END AS verdict
        |FROM w WHERE rn = 1 AND NOT del ORDER BY doc_id""".stripMargin,

    // gap-cut replay: one lag window marks session starts, a running
    // sum numbers them, exact cents totals; ms granularity matches the
    // batch operator (and the streaming state's epoch-ms compares)
    "q_suffix_rank" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) > 0),
         |p AS (SELECT doc_id, (i - 1)::INTEGER AS pos,
         |  array_to_string(toks[i:], ' ') AS suf FROM pos)
         |SELECT doc_id, pos,
         |  (rank() OVER (ORDER BY suf) - 1)::BIGINT AS suffix_rank
         |FROM p ORDER BY doc_id, pos""".stripMargin,

    "q_in_transit" ->
      """WITH pts AS (SELECT DISTINCT
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS d FROM lineitem),
        |  iv AS (SELECT (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT d, count(*) AS n_in_transit
        |FROM pts JOIN iv ON d BETWEEN lo AND hi
        |GROUP BY d ORDER BY d""".stripMargin,

    "q_in_transit_sweep" ->
      // identical semantics to q_in_transit: the engine-side sweep must
      // reproduce the quadratic BETWEEN join's counts exactly
      """WITH pts AS (SELECT DISTINCT
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS d FROM lineitem),
        |  iv AS (SELECT (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT d, count(*) AS n_in_transit
        |FROM pts JOIN iv ON d BETWEEN lo AND hi
        |GROUP BY d ORDER BY d""".stripMargin,

    "q_in_transit_bcast" ->
      // identical semantics to q_in_transit: the spine-broadcast join
      // must reproduce the quadratic BETWEEN join's counts exactly
      """WITH pts AS (SELECT DISTINCT
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS d FROM lineitem),
        |  iv AS (SELECT (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT d, count(*) AS n_in_transit
        |FROM pts JOIN iv ON d BETWEEN lo AND hi
        |GROUP BY d ORDER BY d""".stripMargin,

    "q_overlap_sweep" ->
      // ROW-pair semantics (every unordered pair of distinct interval
      // rows): q_overlap_join keys pairs by a synthetic lid that the
      // testdata does NOT keep unique (duplicate (orderkey,linenumber)
      // rows share a lid and their pairs vanish under lid_a < lid_b),
      // so the sweep's oracle mints a genuinely unique rid per row —
      // any distinct numbering yields the same row-pair count
      """WITH b AS (SELECT l_suppkey, row_number() OVER () AS rid,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT a.l_suppkey, count(*) AS n_overlaps
        |FROM b a JOIN b c ON a.l_suppkey = c.l_suppkey AND a.rid < c.rid
        |  AND a.lo <= c.hi AND c.lo <= a.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overlap_join" ->
      """WITH b AS (SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT a.l_suppkey, count(*) AS n_overlaps
        |FROM b a JOIN b c ON a.l_suppkey = c.l_suppkey AND a.lid < c.lid
        |  AND a.lo <= c.hi AND c.lo <= a.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overlap_bcast" ->
      // IDENTICAL oracle to q_overlap_join: the broadcast interval-tree
      // venue must reproduce the expansion join's pairs exactly
      """WITH b AS (SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 1
        |      + (l_orderkey * 7 + l_linenumber) % 21 AS hi
        |  FROM lineitem)
        |SELECT a.l_suppkey, count(*) AS n_overlaps
        |FROM b a JOIN b c ON a.l_suppkey = c.l_suppkey AND a.lid < c.lid
        |  AND a.lo <= c.hi AND c.lo <= a.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_overlap_win" ->
      // lineitem transit intervals vs 3 per-supplier audit windows;
      // identical oracle for the expansion and broadcast venues
      """WITH li AS (SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 60
        |      + (l_orderkey * 11 + l_linenumber * 3) % 180 AS hi
        |  FROM lineitem),
        |w AS (SELECT s_suppkey AS l_suppkey, g.wid,
        |    8036 + (s_suppkey * 37 + g.wid * 797) % 2400 AS wlo,
        |    8036 + (s_suppkey * 37 + g.wid * 797) % 2400
        |      + 30 + s_suppkey % 7 AS whi
        |  FROM supplier, (SELECT unnest(generate_series(0, 2)) AS wid) g)
        |SELECT li.l_suppkey, w.wid, count(*) AS n_lines,
        |  sum(li.lid)::BIGINT AS sum_lid
        |FROM li JOIN w ON li.l_suppkey = w.l_suppkey
        |  AND li.lo <= w.whi AND w.wlo <= li.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_overlap_win_bcast" ->
      """WITH li AS (SELECT l_suppkey, l_orderkey * 8 + l_linenumber AS lid,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT AS lo,
        |    (l_shipdate::DATE - DATE '1970-01-01')::BIGINT + 60
        |      + (l_orderkey * 11 + l_linenumber * 3) % 180 AS hi
        |  FROM lineitem),
        |w AS (SELECT s_suppkey AS l_suppkey, g.wid,
        |    8036 + (s_suppkey * 37 + g.wid * 797) % 2400 AS wlo,
        |    8036 + (s_suppkey * 37 + g.wid * 797) % 2400
        |      + 30 + s_suppkey % 7 AS whi
        |  FROM supplier, (SELECT unnest(generate_series(0, 2)) AS wid) g)
        |SELECT li.l_suppkey, w.wid, count(*) AS n_lines,
        |  sum(li.lid)::BIGINT AS sum_lid
        |FROM li JOIN w ON li.l_suppkey = w.l_suppkey
        |  AND li.lo <= w.whi AND w.wlo <= li.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_suffix_lcp" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) > 0),
         |p AS (SELECT doc_id, (i - 1)::INTEGER AS pos, toks[i:] AS suf,
         |  array_to_string(toks[i:], ' ') AS sufs FROM pos),
         |o AS (SELECT doc_id, pos, suf,
         |  row_number() OVER (ORDER BY sufs, doc_id, pos) - 1 AS seq,
         |  lag(suf) OVER (ORDER BY sufs, doc_id, pos) AS prev FROM p)
         |SELECT doc_id, pos, seq::BIGINT AS seq,
         |  (CASE WHEN prev IS NULL THEN 0 ELSE coalesce(
         |    nullif(list_position(list_transform(
         |      generate_series(1, least(len(suf), len(prev))),
         |      i -> suf[i] = prev[i]), false), 0) - 1,
         |    least(len(suf), len(prev))) END)::BIGINT AS lcp_prev
         |FROM o ORDER BY doc_id, pos""".stripMargin,

    "q_phrase_search" ->
      // mirrors Search.phraseSearch(["table","key","agg"]): position p
      // starts the phrase iff the three tokens match at p, p+1, p+2
      // (an out-of-range index yields NULL and the equality fails)
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
         |  FROM t WHERE len(toks) > 0)
         |SELECT doc_id, pos::BIGINT AS start FROM p
         |WHERE toks[pos + 1] = 'table' AND toks[pos + 2] = 'key'
         |  AND toks[pos + 3] = 'agg'
         |ORDER BY doc_id, start""".stripMargin,

    "q_phrase_batch" ->
      // mirrors Search.phraseOccurrencesBatch over three phrases: each
      // arm is the direct window predicate with its phrase_id
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
         |  FROM t WHERE len(toks) > 0)
         |SELECT 0::BIGINT AS phrase_id, doc_id, pos::BIGINT AS start
         |FROM p WHERE toks[pos + 1] = 'table' AND toks[pos + 2] = 'key'
         |  AND toks[pos + 3] = 'agg'
         |UNION ALL
         |SELECT 1::BIGINT, doc_id, pos::BIGINT FROM p
         |WHERE toks[pos + 1] = 'value' AND toks[pos + 2] = 'table'
         |UNION ALL
         |SELECT 2::BIGINT, doc_id, pos::BIGINT FROM p
         |WHERE toks[pos + 1] = 'query' AND toks[pos + 2] = 'value'
         |ORDER BY phrase_id, doc_id, start""".stripMargin,

    "q_phrase_gate" ->
      // mirrors Search.phraseGate(["table","key","agg"]): per-doc count
      // of in-row window matches (empty range for sub-3-token docs)
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |h AS (SELECT doc_id, len(list_filter(
         |    range(greatest(len(toks) - 2, 0)),
         |    p -> toks[p + 1] = 'table' AND toks[p + 2] = 'key'
         |      AND toks[p + 3] = 'agg')) AS n_hits FROM t)
         |SELECT doc_id, n_hits::BIGINT AS n_hits, n_hits > 0 AS has_phrase
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_phrase_set" ->
      // mirrors Search.phraseSetGate over the 4-phrase set (one absent
      // phrase pins the all-zero column): per (doc, phrase) the count
      // of start positions whose every slot matches
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |p(phrase_id, ph) AS (VALUES
         |  (0, ['table', 'key', 'agg']), (1, ['value', 'table']),
         |  (2, ['query', 'value']), (3, ['zzz', 'qqq'])),
         |m AS (SELECT t.doc_id, p.phrase_id, count(*)::BIGINT AS n
         |  FROM t CROSS JOIN p
         |  CROSS JOIN unnest(generate_series(0,
         |    len(t.toks) - len(p.ph))) u(s)
         |  WHERE NOT list_contains(list_transform(
         |    generate_series(1, len(p.ph)),
         |    i -> t.toks[s + i] = p.ph[i]), false)
         |  GROUP BY 1, 2)
         |SELECT t.doc_id AS doc_id, p.phrase_id::BIGINT AS phrase_id,
         |  coalesce(m.n, 0)::BIGINT AS n_hits,
         |  coalesce(m.n, 0) > 0 AS has_phrase
         |FROM t CROSS JOIN p
         |LEFT JOIN m ON m.doc_id = t.doc_id AND m.phrase_id = p.phrase_id
         |ORDER BY t.doc_id, phrase_id""".stripMargin,

    "q_blocklist" ->
      // mirrors Blocklist.blocklistGate: per (doc, pattern) the count
      // of character start positions where the pattern matches as a
      // raw substring — overlapping and nested matches all counted
      // (start-position count == the kernel's end-position count)
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'value table part'), (5, 'agg'), (6, 'zzqx'),
        |  (7, ' the '), (8, 'batch'), (9, 'le')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2)
        |SELECT d.doc_id AS doc_id, p.pid::BIGINT AS pattern_id,
        |  coalesce(c.n, 0)::BIGINT AS n_hits,
        |  coalesce(c.n, 0) > 0 AS hit
        |FROM d CROSS JOIN pats p
        |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid
        |ORDER BY d.doc_id, pattern_id""".stripMargin,

    "q_blocklist_clean" ->
      // mirrors Blocklist.blocklistVerdicts: the per-document card
      // folded over the same per-pattern counts
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'value table part'), (5, 'agg'), (6, 'zzqx'),
        |  (7, ' the '), (8, 'batch'), (9, 'le')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2)
        |SELECT d.doc_id,
        |  coalesce(sum(c.n), 0)::BIGINT AS n_hits,
        |  coalesce(sum(CASE WHEN c.n > 0 THEN 1 ELSE 0 END), 0)::BIGINT
        |    AS n_patterns,
        |  coalesce(sum(c.n), 0) = 0 AS clean
        |FROM d LEFT JOIN cnt c ON c.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_blocklist_table" ->
      // mirrors blocklistGateFrom: pattern_id = the needle's 0-based
      // position in the sorted distinct set
      """WITH p0 AS (SELECT DISTINCT substr(text, 1, 8) AS pat
        |  FROM documents WHERE doc_id < 8
        |    AND length(substr(text, 1, 8)) > 0),
        |pats AS (SELECT row_number() OVER (ORDER BY pat) - 1 AS pid, pat
        |  FROM p0),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2)
        |SELECT d.doc_id AS doc_id, p.pid::BIGINT AS pattern_id,
        |  coalesce(c.n, 0)::BIGINT AS n_hits,
        |  coalesce(c.n, 0) > 0 AS hit
        |FROM d CROSS JOIN pats p
        |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid
        |ORDER BY d.doc_id, pattern_id""".stripMargin,

    "q_redact" ->
      // mirrors Blocklist.redactDocs: the union of all match spans,
      // each covered character rebuilt as '*'
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'value table part'), (5, 'agg'), (6, 'zzqx'),
        |  (7, ' the '), (8, 'batch'), (9, 'le')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |mt AS (SELECT doc_id, s, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |cov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM mt),
        |cov AS (SELECT DISTINCT doc_id, s + o AS p FROM cov0),
        |ch AS (SELECT doc_id, text,
        |  unnest(range(length(text))) AS i FROM d),
        |red AS (SELECT ch.doc_id,
        |  string_agg(CASE WHEN cov.p IS NOT NULL THEN '*'
        |    ELSE substr(ch.text, (ch.i + 1)::INT, 1) END, ''
        |    ORDER BY ch.i) AS redacted,
        |  sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_masked
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.i
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(red.redacted, d.text) AS redacted,
        |  coalesce(red.n_masked, 0)::BIGINT AS n_masked
        |FROM d LEFT JOIN red ON red.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_blocklist_rx" ->
      // mirrors rxGate's all-starts regex semantics: at every 0-based
      // start s the pattern either greedy-matches or not —
      // regexp_extract('^(...)') on the suffix replays Java's
      // lookingAt exactly for the engine-portable subset
      s"""WITH pats(pid, pat) AS (VALUES $rxPatsValues),
         |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
         |st AS (SELECT doc_id, pid, pat, text,
         |  unnest(range(length(text))) AS s FROM d CROSS JOIN pats),
         |cnt AS (SELECT doc_id, pid,
         |  sum(CASE WHEN length(regexp_extract(substr(text, (s + 1)::INT),
         |      '^(' || pat || ')')) > 0 THEN 1 ELSE 0 END)::BIGINT AS n
         |  FROM st GROUP BY 1, 2)
         |SELECT d.doc_id AS doc_id, p.pid::BIGINT AS pattern_id,
         |  coalesce(c.n, 0)::BIGINT AS n_hits,
         |  coalesce(c.n, 0) > 0 AS hit
         |FROM d CROSS JOIN pats p
         |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid
         |ORDER BY d.doc_id, pattern_id""".stripMargin,

    "q_canon_rx" ->
      // mirrors rxCanonicalize's sequential fold: nested
      // regexp_replace(..., 'g') in rule order, n_replaced = the sum
      // of non-overlapping match counts against each INTERMEDIATE
      // string state (regexp_extract_all counts exactly what a global
      // replace replaces)
      """WITH d AS (SELECT doc_id::BIGINT AS doc_id, text AS s0
        |  FROM documents),
        |f1 AS (SELECT doc_id, s0,
        |  len(regexp_extract_all(s0, 'ta[a-z]+'))::BIGINT AS c1,
        |  regexp_replace(s0, 'ta[a-z]+', 'T1', 'g') AS s1 FROM d),
        |f2 AS (SELECT doc_id, c1,
        |  len(regexp_extract_all(s1, 'b[a-z]{2}ch'))::BIGINT AS c2,
        |  regexp_replace(s1, 'b[a-z]{2}ch', 'B', 'g') AS s2 FROM f1),
        |f3 AS (SELECT doc_id, c1, c2,
        |  len(regexp_extract_all(s2, 'T[0-9]'))::BIGINT AS c3,
        |  regexp_replace(s2, 'T[0-9]', 'NUM', 'g') AS s3 FROM f2),
        |f4 AS (SELECT doc_id, c1, c2, c3,
        |  len(regexp_extract_all(s3, '[0-9]{3}-[0-9]{2}'))::BIGINT AS c4,
        |  regexp_replace(s3, '[0-9]{3}-[0-9]{2}', '<ID>', 'g') AS s4
        |  FROM f3)
        |SELECT doc_id, s4 AS canonical,
        |  (c1 + c2 + c3 + c4)::BIGINT AS n_replaced
        |FROM f4 ORDER BY doc_id""".stripMargin,

    "q_scrub_stack" ->
      // mirrors the composed scrub stack stage for stage — see
      // [[scrubStackCtes]] (shared with q_scrub_prov): the per-doc
      // verdict card with the scrubbed-content signature
      s"""WITH RECURSIVE $scrubStackCtes
         |SELECT doc_id, n_canon, n_lit_hits, n_lit_patterns,
         |  n_rx_hits, n_rx_patterns, n_masked_lit, n_masked_rx, clean,
         |  ${hash56("'scrub' || ':' || doc_id::VARCHAR || ':' || ft")}
         |    % 1000003 AS scrub_sig
         |FROM scard ORDER BY doc_id""".stripMargin,

    "q_scrub_prov" ->
      // the provenance rollup of the same chain: per source the doc
      // count, docs hit by each family, stage volumes, and the clean
      // count — every aggregate off the shared scard CTE
      s"""WITH RECURSIVE $scrubStackCtes
         |SELECT d2.source, count(*)::BIGINT AS n_docs,
         |  sum(c.n_canon)::BIGINT AS n_canon,
         |  sum(CASE WHEN c.n_lit_hits > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_docs_lit_hit,
         |  sum(c.n_lit_hits)::BIGINT AS n_lit_hits,
         |  sum(CASE WHEN c.n_rx_hits > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_docs_rx_hit,
         |  sum(c.n_rx_hits)::BIGINT AS n_rx_hits,
         |  sum(c.n_masked_lit + c.n_masked_rx)::BIGINT AS n_masked,
         |  sum(CASE WHEN c.clean THEN 1 ELSE 0 END)::BIGINT AS n_clean
         |FROM scard c JOIN documents d2 USING (doc_id)
         |GROUP BY 1 ORDER BY source""".stripMargin,

    "q_rx_prov" ->
      // mirrors rxProvenance: the per-position counting CTE grouped
      // by (source, pattern)
      s"""WITH pats(pid, pat) AS (VALUES $rxPatsValues),
         |d AS (SELECT doc_id::BIGINT AS doc_id, source, text
         |  FROM documents),
         |st AS (SELECT doc_id, pid, pat, text,
         |  unnest(range(length(text))) AS s FROM d CROSS JOIN pats),
         |cnt AS (SELECT doc_id, pid,
         |  sum(CASE WHEN length(regexp_extract(substr(text, (s + 1)::INT),
         |      '^(' || pat || ')')) > 0 THEN 1 ELSE 0 END)::BIGINT AS n
         |  FROM st GROUP BY 1, 2)
         |SELECT d.source, p.pid::BIGINT AS pattern_id,
         |  count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN coalesce(c.n, 0) > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_docs_hit,
         |  coalesce(sum(c.n), 0)::BIGINT AS n_hits
         |FROM d CROSS JOIN pats p
         |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid
         |GROUP BY 1, 2 ORDER BY source, pattern_id""".stripMargin,

    "q_rx_spans" ->
      // mirrors rxSpans: per-position greedy match lengths
      s"""WITH pats(pid, pat) AS (VALUES $rxPatsValues),
         |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
         |st AS MATERIALIZED (SELECT doc_id, pid, pat, text,
         |  unnest(range(length(text))) AS s FROM d CROSS JOIN pats),
         |m AS (SELECT doc_id, pid, s,
         |  length(regexp_extract(substr(text, (s + 1)::INT),
         |    '^(' || pat || ')'))::BIGINT AS len FROM st)
         |SELECT doc_id, pid::BIGINT AS pattern_id, s::BIGINT AS start, len
         |FROM m WHERE len > 0
         |ORDER BY doc_id, start, pattern_id""".stripMargin,

    "q_redact_rx" ->
      // mirrors rxRedact: the union of every greedy match span
      // rebuilt as '*' per covered character
      s"""WITH pats(pid, pat) AS (VALUES $rxPatsValues),
         |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
         |st AS MATERIALIZED (SELECT doc_id, pat, text,
         |  unnest(range(length(text))) AS s FROM d CROSS JOIN pats),
         |mt AS (SELECT doc_id, s,
         |  length(regexp_extract(substr(text, (s + 1)::INT),
         |    '^(' || pat || ')')) AS k FROM st
         |  WHERE length(regexp_extract(substr(text, (s + 1)::INT),
         |    '^(' || pat || ')')) > 0),
         |cov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM mt),
         |cov AS (SELECT DISTINCT doc_id, s + o AS p FROM cov0),
         |ch AS (SELECT doc_id, text,
         |  unnest(range(length(text))) AS i FROM d),
         |red AS (SELECT ch.doc_id,
         |  string_agg(CASE WHEN cov.p IS NOT NULL THEN '*'
         |    ELSE substr(ch.text, (ch.i + 1)::INT, 1) END, ''
         |    ORDER BY ch.i) AS redacted,
         |  sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_masked
         |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.i
         |  GROUP BY 1)
         |SELECT d.doc_id, coalesce(red.redacted, d.text) AS redacted,
         |  coalesce(red.n_masked, 0)::BIGINT AS n_masked
         |FROM d LEFT JOIN red ON red.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_canon_dedup" ->
      // mirrors the canon -> hash-dedup composite with the OVERLAPPING
      // three-needle dictionary (round 13): the q_canon recursive
      // leftmost-longest walk replayed over the union of the corpus
      // and the alias'd twins, then the keeper groupBy — the plain
      // replace() shortcut of the old single-needle dictionary would
      // now be WRONG (a per-needle fold cascades where "ta"/"le"
      // overlap "table")
      """WITH RECURSIVE maps(pid, pat, rep) AS (VALUES
        |  (0, 'table', 'TBL'), (1, 'ta', 'tX'), (2, 'le', 'lY')),
        |d0 AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |al AS (SELECT doc_id + 100000 AS doc_id,
        |  replace(text, 'table', 'TBL') AS text
        |  FROM d0 WHERE doc_id % 7 = 0),
        |d AS (SELECT * FROM d0 UNION ALL SELECT * FROM al),
        |st AS MATERIALIZED (SELECT doc_id, pid, pat, rep, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN maps),
        |mt AS (SELECT doc_id, s, pid, rep, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |best AS MATERIALIZED (SELECT doc_id, s, k, rep FROM (
        |  SELECT doc_id, s, k, rep, row_number() OVER (
        |    PARTITION BY doc_id, s ORDER BY k DESC, pid) AS rn FROM mt) b
        |  WHERE rn = 1),
        |walk(doc_id, pos, acc, nrep) AS (
        |  SELECT doc_id, 0::BIGINT AS pos, '' AS acc, 0::BIGINT AS nrep
        |  FROM d
        |  UNION ALL
        |  SELECT w.doc_id,
        |    CASE WHEN b.s IS NULL THEN length(d.text)::BIGINT
        |      ELSE b.s + b.k END,
        |    w.acc || CASE WHEN b.s IS NULL
        |      THEN substr(d.text, (w.pos + 1)::INT)
        |      ELSE substr(d.text, (w.pos + 1)::INT, (b.s - w.pos)::INT)
        |        || b.rep END,
        |    w.nrep + CASE WHEN b.s IS NULL THEN 0 ELSE 1 END
        |  FROM walk w JOIN d ON d.doc_id = w.doc_id
        |  LEFT JOIN best b ON b.doc_id = w.doc_id AND b.s >= w.pos
        |  WHERE w.pos < length(d.text)
        |  QUALIFY row_number() OVER (PARTITION BY w.doc_id, w.pos
        |    ORDER BY b.s NULLS LAST) = 1),
        |fin AS (SELECT w.doc_id, w.acc FROM walk w
        |  JOIN d ON d.doc_id = w.doc_id WHERE w.pos >= length(d.text)),
        |c AS (SELECT d.doc_id, coalesce(f.acc, '') AS canonical
        |  FROM d LEFT JOIN fin f ON f.doc_id = d.doc_id)
        |SELECT min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_docs
        |FROM c GROUP BY canonical ORDER BY keep_id""".stripMargin,

    "q_canon_table" ->
      // mirrors canonicalizeDocsFrom: dictionary = sorted distinct
      // (6-char prefix -> min uppercased 3-char prefix) of the sub-8
      // docs, then the q_canon per-match recursive walk (no pid
      // tiebreak needed: distinct patterns of equal length matching
      // one start would be identical strings)
      """WITH RECURSIVE m0 AS (SELECT DISTINCT substr(text, 1, 6) AS pat,
        |  upper(substr(text, 1, 3)) AS rep
        |  FROM documents WHERE doc_id < 8
        |    AND length(substr(text, 1, 6)) > 0),
        |maps AS (SELECT pat, min(rep) AS rep FROM m0 GROUP BY pat),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pat, rep, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN maps),
        |mt AS (SELECT doc_id, s, rep, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |best AS MATERIALIZED (SELECT doc_id, s, k, rep FROM (
        |  SELECT doc_id, s, k, rep, row_number() OVER (
        |    PARTITION BY doc_id, s ORDER BY k DESC) AS rn FROM mt) b
        |  WHERE rn = 1),
        |walk(doc_id, pos, acc, nrep) AS (
        |  SELECT doc_id, 0::BIGINT AS pos, '' AS acc, 0::BIGINT AS nrep
        |  FROM d
        |  UNION ALL
        |  SELECT w.doc_id,
        |    CASE WHEN b.s IS NULL THEN length(d.text)::BIGINT
        |      ELSE b.s + b.k END,
        |    w.acc || CASE WHEN b.s IS NULL
        |      THEN substr(d.text, (w.pos + 1)::INT)
        |      ELSE substr(d.text, (w.pos + 1)::INT, (b.s - w.pos)::INT)
        |        || b.rep END,
        |    w.nrep + CASE WHEN b.s IS NULL THEN 0 ELSE 1 END
        |  FROM walk w JOIN d ON d.doc_id = w.doc_id
        |  LEFT JOIN best b ON b.doc_id = w.doc_id AND b.s >= w.pos
        |  WHERE w.pos < length(d.text)
        |  QUALIFY row_number() OVER (PARTITION BY w.doc_id, w.pos
        |    ORDER BY b.s NULLS LAST) = 1),
        |fin AS (SELECT w.doc_id, w.acc, w.nrep FROM walk w
        |  JOIN d ON d.doc_id = w.doc_id WHERE w.pos >= length(d.text))
        |SELECT d.doc_id, coalesce(f.acc, '') AS canonical,
        |  coalesce(f.nrep, 0)::BIGINT AS n_replaced
        |FROM d LEFT JOIN fin f ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_blocklist_spans" ->
      // mirrors blocklistSpans: match start positions per (doc,
      // pattern), 0-based
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'zzqx')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats)
        |SELECT doc_id, pid::BIGINT AS pattern_id, s::BIGINT AS start
        |FROM st
        |WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |ORDER BY doc_id, start, pattern_id""".stripMargin,

    "q_canon" ->
      // mirrors the leftmost-longest dictionary walk: best match per
      // start (longest, tie lowest pid), then a per-MATCH recursive
      // scan (jump from chosen match to next candidate >= resume
      // position — rounds = chosen matches, not characters; the
      // NULLS LAST row pick doubles as the no-more-matches tail)
      """WITH RECURSIVE maps(pid, pat, rep) AS (VALUES
        |  (0, 'table', 'tbl'), (1, 'tab', 'T'), (2, 'a a', 'aa'),
        |  (3, 'value', ''), (4, ' the ', ' exactly the '),
        |  (5, 'zzqx', 'never')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pid, pat, rep, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN maps),
        |mt AS (SELECT doc_id, s, pid, rep, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |best AS MATERIALIZED (SELECT doc_id, s, k, rep FROM (
        |  SELECT doc_id, s, k, rep, row_number() OVER (
        |    PARTITION BY doc_id, s ORDER BY k DESC, pid) AS rn FROM mt) b
        |  WHERE rn = 1),
        |walk(doc_id, pos, acc, nrep) AS (
        |  SELECT doc_id, 0::BIGINT AS pos, '' AS acc, 0::BIGINT AS nrep
        |  FROM d
        |  UNION ALL
        |  SELECT w.doc_id,
        |    CASE WHEN b.s IS NULL THEN length(d.text)::BIGINT
        |      ELSE b.s + b.k END,
        |    w.acc || CASE WHEN b.s IS NULL
        |      THEN substr(d.text, (w.pos + 1)::INT)
        |      ELSE substr(d.text, (w.pos + 1)::INT, (b.s - w.pos)::INT)
        |        || b.rep END,
        |    w.nrep + CASE WHEN b.s IS NULL THEN 0 ELSE 1 END
        |  FROM walk w JOIN d ON d.doc_id = w.doc_id
        |  LEFT JOIN best b ON b.doc_id = w.doc_id AND b.s >= w.pos
        |  WHERE w.pos < length(d.text)
        |  QUALIFY row_number() OVER (PARTITION BY w.doc_id, w.pos
        |    ORDER BY b.s NULLS LAST) = 1),
        |fin AS (SELECT w.doc_id, w.acc, w.nrep FROM walk w
        |  JOIN d ON d.doc_id = w.doc_id WHERE w.pos >= length(d.text))
        |SELECT d.doc_id, coalesce(f.acc, '') AS canonical,
        |  coalesce(f.nrep, 0)::BIGINT AS n_replaced
        |FROM d LEFT JOIN fin f ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_decontam_exact" ->
      // mirrors the exact-substring sweep: needles = the sub-10 docs'
      // full distinct texts; per corpus doc the total occurrences and
      // the count of distinct needles present
      """WITH p0 AS (SELECT DISTINCT text AS pat FROM documents
        |  WHERE doc_id < 10 AND length(text) > 0),
        |pats AS (SELECT row_number() OVER (ORDER BY pat) - 1 AS pid, pat
        |  FROM p0),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2)
        |SELECT d.doc_id AS doc_id,
        |  coalesce(sum(c.n), 0)::BIGINT AS n_eval_hits,
        |  coalesce(sum(CASE WHEN c.n > 0 THEN 1 ELSE 0 END), 0)::BIGINT
        |    AS n_eval_needles,
        |  coalesce(sum(c.n), 0) > 0 AS contaminated
        |FROM d LEFT JOIN cnt c ON c.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_redact_report" ->
      // mirrors the scrub -> re-gate -> card composite: rebuild every
      // redacted string, scan it AGAIN for the needle set, fold
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'value table part'), (5, 'agg'), (6, 'zzqx'),
        |  (7, ' the '), (8, 'batch'), (9, 'le')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, text FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |mt AS (SELECT doc_id, s, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |cov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM mt),
        |cov AS (SELECT DISTINCT doc_id, s + o AS p FROM cov0),
        |ch AS (SELECT doc_id, text,
        |  unnest(range(length(text))) AS i FROM d),
        |red AS (SELECT ch.doc_id,
        |  string_agg(CASE WHEN cov.p IS NOT NULL THEN '*'
        |    ELSE substr(ch.text, (ch.i + 1)::INT, 1) END, ''
        |    ORDER BY ch.i) AS redacted,
        |  sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_masked
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.i
        |  GROUP BY 1),
        |rd AS (SELECT d.doc_id, coalesce(red.redacted, d.text) AS rt,
        |  coalesce(red.n_masked, 0)::BIGINT AS n_masked
        |  FROM d LEFT JOIN red ON red.doc_id = d.doc_id),
        |st2 AS MATERIALIZED (SELECT doc_id, pat, rt,
        |  unnest(range(greatest(length(rt) - length(pat) + 1, 0))) AS s
        |  FROM rd CROSS JOIN pats),
        |reh AS (SELECT coalesce(sum(CASE WHEN
        |    substr(rt, (s + 1)::INT, length(pat)::INT) = pat
        |    THEN 1 ELSE 0 END), 0)::BIGINT AS n_rehits FROM st2),
        |tot AS (SELECT count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN n_masked > 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_docs_scrubbed,
        |  sum(length(rt))::BIGINT AS n_chars,
        |  sum(n_masked)::BIGINT AS n_masked_total FROM rd)
        |SELECT n_docs, n_docs_scrubbed, n_chars, n_masked_total,
        |  CASE WHEN n_chars = 0 THEN 0 ELSE
        |    (2 * n_masked_total * 1000000 + n_chars) // (2 * n_chars)
        |  END AS masked_share_micro,
        |  reh.n_rehits AS n_rehits
        |FROM tot CROSS JOIN reh""".stripMargin,

    "q_redact_ci" ->
      // mirrors the normalize -> redact composition over the same
      // roughed-up text as q_blocklist_ci
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'a a'), (2, 'agg'), (3, 'zzqx')),
        |d AS (SELECT doc_id::BIGINT AS doc_id,
        |  lower(nfc_normalize(upper(substr(text, 1, 40)) || substr(text, 41)))
        |    AS text
        |  FROM documents),
        |st AS MATERIALIZED (SELECT doc_id, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |mt AS (SELECT doc_id, s, length(pat) AS k FROM st
        |  WHERE substr(text, (s + 1)::INT, length(pat)::INT) = pat),
        |cov0 AS (SELECT doc_id, s, unnest(range(k)) AS o FROM mt),
        |cov AS (SELECT DISTINCT doc_id, s + o AS p FROM cov0),
        |ch AS (SELECT doc_id, text,
        |  unnest(range(length(text))) AS i FROM d),
        |red AS (SELECT ch.doc_id,
        |  string_agg(CASE WHEN cov.p IS NOT NULL THEN '*'
        |    ELSE substr(ch.text, (ch.i + 1)::INT, 1) END, ''
        |    ORDER BY ch.i) AS redacted,
        |  sum(CASE WHEN cov.p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_masked
        |  FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.i
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(red.redacted, d.text) AS redacted,
        |  coalesce(red.n_masked, 0)::BIGINT AS n_masked
        |FROM d LEFT JOIN red ON red.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_blocklist_prov" ->
      // mirrors Blocklist.provenanceReport: the per-pattern counts
      // folded per source
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'ta'), (2, 'a a'), (3, 'scan s'),
        |  (4, 'value table part'), (5, 'agg'), (6, 'zzqx'),
        |  (7, ' the '), (8, 'batch'), (9, 'le')),
        |d AS (SELECT doc_id::BIGINT AS doc_id, source, text
        |  FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2),
        |fl AS (SELECT d.source, p.pid, coalesce(c.n, 0) AS n
        |  FROM d CROSS JOIN pats p
        |  LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid)
        |SELECT source, pid::BIGINT AS pattern_id,
        |  count(*)::BIGINT AS n_docs,
        |  sum(CASE WHEN n > 0 THEN 1 ELSE 0 END)::BIGINT AS n_docs_hit,
        |  sum(n)::BIGINT AS n_hits
        |FROM fl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_blocklist_ci" ->
      // mirrors the normalize -> scan composition: the roughed-up
      // uppercased prefix folds back to the original lowercase text
      // (nfc_normalize + lower = the graft_textnorm contract)
      """WITH pats(pid, pat) AS (VALUES
        |  (0, 'table'), (1, 'a a'), (2, 'agg'), (3, 'zzqx')),
        |d AS (SELECT doc_id::BIGINT AS doc_id,
        |  lower(nfc_normalize(upper(substr(text, 1, 40)) || substr(text, 41)))
        |    AS text
        |  FROM documents),
        |st AS (SELECT doc_id, pid, pat, text,
        |  unnest(range(greatest(length(text) - length(pat) + 1, 0))) AS s
        |  FROM d CROSS JOIN pats),
        |cnt AS (SELECT doc_id, pid,
        |  sum(CASE WHEN substr(text, (s + 1)::INT, length(pat)::INT) = pat
        |      THEN 1 ELSE 0 END)::BIGINT AS n
        |  FROM st GROUP BY 1, 2)
        |SELECT d.doc_id AS doc_id, p.pid::BIGINT AS pattern_id,
        |  coalesce(c.n, 0)::BIGINT AS n_hits,
        |  coalesce(c.n, 0) > 0 AS hit
        |FROM d CROSS JOIN pats p
        |LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.pid = p.pid
        |ORDER BY d.doc_id, pattern_id""".stripMargin,

    "q_decontam" ->
      // mirrors Search.decontaminationVerdicts with the eval set =
      // each sub-10 doc's leading 6-gram; duplicate eval phrases (if
      // two docs open identically) stay distinct pids on both sides
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |ev AS (SELECT doc_id AS pid, list_slice(toks, 1, 6) AS ph
         |  FROM t WHERE doc_id < 10 AND len(toks) > 0),
         |m AS (SELECT t.doc_id, ev.pid, count(*)::BIGINT AS n
         |  FROM t CROSS JOIN ev
         |  CROSS JOIN unnest(generate_series(0,
         |    len(t.toks) - len(ev.ph))) u(s)
         |  WHERE NOT list_contains(list_transform(
         |    generate_series(1, len(ev.ph)),
         |    i -> t.toks[s + i] = ev.ph[i]), false)
         |  GROUP BY 1, 2),
         |agg AS (SELECT doc_id, sum(n)::BIGINT AS n_eval_hits,
         |  count(DISTINCT pid)::BIGINT AS n_eval_phrases
         |  FROM m GROUP BY 1)
         |SELECT t.doc_id,
         |  coalesce(agg.n_eval_hits, 0)::BIGINT AS n_eval_hits,
         |  coalesce(agg.n_eval_phrases, 0)::BIGINT AS n_eval_phrases,
         |  coalesce(agg.n_eval_hits, 0) > 0 AS contaminated
         |FROM t LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_span_cut_sa" ->
      // mirrors Rewrite.spanDedupSA(minLen=8) over the planted-mirror
      // corpus; replayed as the equivalent stride-1 8-token shingle cut
      // (the SA blocks ARE the equal-8-window classes — RewriteSpec)
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
         |  FROM t WHERE len(toks) > 0),
         |tk AS (SELECT doc_id, pos, toks[pos + 1] AS token FROM tok),
         |so AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS start, toks
         |  FROM t WHERE len(toks) >= 8),
         |sh AS (SELECT doc_id, start, array_to_string(
         |    list_slice(toks, start + 1, start + 8), ' ') AS shingle FROM so),
         |rnk AS (SELECT doc_id, start,
         |    row_number() OVER (PARTITION BY shingle
         |      ORDER BY doc_id, start) AS rn,
         |    count(*) OVER (PARTITION BY shingle) AS cnt FROM sh),
         |remocc AS (SELECT doc_id, start FROM rnk WHERE cnt >= 2 AND rn > 1),
         |rpos AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(generate_series(start, start + 7)) AS pos
         |  FROM remocc)),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.token FROM tk
         |  ANTI JOIN rpos ON tk.doc_id = rpos.doc_id AND tk.pos = rpos.pos),
         |reb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS txt,
         |    count(*) AS kept FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, len(toks)::INT AS n_tokens FROM t)
         |SELECT tot.doc_id, coalesce(reb.txt, '') AS text,
         |  coalesce(reb.kept, 0)::BIGINT AS n_kept, tot.n_tokens
         |FROM tot LEFT JOIN reb USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_repeat_marks" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |pos AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS i, toks
         |  FROM t WHERE len(toks) > 0),
         |w AS (SELECT doc_id, (i - 1)::INTEGER AS pos,
         |  CASE WHEN len(toks) - i + 1 >= 8
         |    THEN array_to_string(toks[i:i+7], ' ') END AS win FROM pos),
         |c AS (SELECT win, count(*) AS n FROM w
         |  WHERE win IS NOT NULL GROUP BY win)
         |SELECT w.doc_id, w.pos, coalesce(c.n > 1, false) AS is_repeat
         |FROM w LEFT JOIN c USING (win)
         |ORDER BY doc_id, pos""".stripMargin,

    "q_topk_agg" ->
      """SELECT event_type, rank, value, event_id FROM (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM events WHERE value IS NOT NULL)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,

    "q_sessions" ->
      """WITH e AS (SELECT user_id, event_id,
        |             epoch_us(ts) // 1000 AS ms,
        |             round(value * 100)::BIGINT AS cents FROM events),
        |l AS (SELECT *, lag(ms) OVER
        |        (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM e),
        |g AS (SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000
        |        THEN 1 ELSE 0 END AS cut FROM l),
        |s AS (SELECT *, sum(cut) OVER (PARTITION BY user_id
        |        ORDER BY ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |      FROM g)
        |SELECT user_id, make_timestamp(min(ms) * 1000) AS session_start,
        |       make_timestamp(max(ms) * 1000) AS session_end,
        |       count(*)::BIGINT AS n_events,
        |       sum(cents)::DOUBLE / 100.0 AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    // integer-rank quantile replay: the same distinct-value histogram
    // + rows_before window + ceil-rank interval pick, one SQL window
    "q_quantiles" ->
      """WITH c AS (SELECT l_extendedprice AS v, count(*)::BIGINT AS c
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |        AS rb, c FROM c),
        |n AS (SELECT sum(c)::BIGINT AS n FROM c),
        |j AS (SELECT unnest(range(11)) AS j),
        |k AS (SELECT j, j::DOUBLE / 10 AS p,
        |        greatest(1, (j * n + 9) // 10)::BIGINT AS rank
        |      FROM j CROSS JOIN n)
        |SELECT k.j, k.p, k.rank, r.v AS l_extendedprice
        |FROM k JOIN r ON r.rb < k.rank AND k.rank <= r.rb + r.c
        |ORDER BY k.j""".stripMargin,

    // mirrors Quantiles.sampleQuantiles: the 2,000 smallest salted key
    // hashes form the sample, then the q_quantiles rank pick over it
    "q_sample_quantiles" ->
      s"""WITH s0 AS (SELECT l_extendedprice AS v,
         |    ${hash56("'sq' || ':' || 'graft' || ':' || l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR")} AS h
         |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |smp AS (SELECT v FROM s0 ORDER BY h, v LIMIT 2000),
         |c AS (SELECT v, count(*)::BIGINT AS c FROM smp GROUP BY 1),
         |r AS (SELECT v, coalesce(sum(c) OVER (ORDER BY v
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |        AS rb, c FROM c),
         |n AS (SELECT sum(c)::BIGINT AS n FROM c),
         |j AS (SELECT unnest(range(11)) AS j),
         |k AS (SELECT j, j::DOUBLE / 10 AS p,
         |        greatest(1, (j * n + 9) // 10)::BIGINT AS rank
         |      FROM j CROSS JOIN n)
         |SELECT k.j, k.p, k.rank, r.v AS l_extendedprice
         |FROM k JOIN r ON r.rb < k.rank AND k.rank <= r.rb + r.c
         |ORDER BY k.j""".stripMargin,

    // the Bloom prefilter only cuts shuffle volume; the composition
    // with the real join is the plain join
    "q_bloom_semijoin" ->
      """SELECT l_suppkey, sum(l_quantity) AS total_qty,
        |  count(*)::BIGINT AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // salting must not change the join result: the oracle is the plain
    // join + aggregation
    "q_salted_join" ->
      """SELECT s_nationkey, sum(l_quantity) AS total_qty,
        |  count(*)::BIGINT AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // sketch-driven per-key salting must not change the result either:
    // the oracle is the plain join over the same planted-hot-key fact
    "q_salted_adaptive" ->
      """SELECT s_nationkey, sum(l_quantity) AS total_qty,
        |  count(*)::BIGINT AS n
        |FROM (SELECT CASE WHEN l_orderkey % 4 = 0 THEN 1::BIGINT
        |             ELSE l_suppkey::BIGINT END AS suppkey, l_quantity
        |      FROM lineitem) l
        |JOIN supplier ON l.suppkey = s_suppkey::BIGINT
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the bucketed write+read+join must be value-lossless: the oracle
    // is the plain join over the raw tables
    "q_bucketed_join" ->
      """SELECT d.doc_id, d.lang, d.n_chars, e.label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY d.doc_id""".stripMargin,

    // the two-level hash-block prefix sum collapses to one SQL window:
    // global position = rank by (salted hash, id), shard = pos mod 8,
    // in-shard position = pos div 8
    "q_epoch_shard" ->
      s"""WITH o AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY
         |    ${hash56("'gs2:' || doc_id::VARCHAR")}, doc_id) - 1 AS gp
         |  FROM documents)
         |SELECT doc_id, gp % 8 AS shard, gp // 8 AS pos
         |FROM o ORDER BY doc_id""".stripMargin,

    "q_gopher_rules" ->
      s"""WITH $gopherCtes
         |SELECT doc_id, n_words, mean_word_len, frac_alpha_words, n_stop_distinct,
         |  symbol_word_ratio, top2gram_frac, r_wordcount, r_wordlen, r_symbol,
         |  r_alpha, r_stop, r_rep, quality_pass
         |FROM gq ORDER BY doc_id""".stripMargin,

    "q_int8_quant" ->
      """WITH e AS (SELECT vec_id, d, embedding[d + 1]::DOUBLE AS x
        |  FROM embeddings CROSS JOIN range(64) t(d)),
        |st AS (SELECT d, min(x) AS lo, max(x) AS hi,
        |  (max(x) - min(x)) / 255.0 AS step FROM e GROUP BY d),
        |c AS (SELECT vec_id, e.d AS dim, x, lo, hi, step,
        |  CASE WHEN hi = lo THEN 0 ELSE
        |    least(255, greatest(0, round((x - lo) / step, 0)::BIGINT)) END AS code
        |  FROM e JOIN st ON e.d = st.d)
        |SELECT vec_id, dim, code,
        |  round(CASE WHEN hi = lo THEN lo ELSE lo + code::DOUBLE * step END, 9)
        |    AS recon
        |FROM c ORDER BY vec_id, dim""".stripMargin,

    "q_sample_k" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  ${hash56("'pick:graft:' || doc_id::VARCHAR")} AS hv FROM documents),
         |r AS (SELECT doc_id, source,
         |  row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
         |    AS pick_rank FROM h)
         |SELECT doc_id, source, pick_rank FROM r WHERE pick_rank <= 25
         |ORDER BY source, pick_rank""".stripMargin,

    "q_hash_vec" ->
      s"""WITH tok AS (SELECT doc_id, ${hash56("tk")} AS h FROM
         |  (SELECT doc_id, unnest($toksExpr) AS tk FROM documents))
         |SELECT doc_id, (h % 64)::BIGINT AS dim,
         |  sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END)::BIGINT AS value
         |FROM tok GROUP BY 1, 2
         |HAVING sum(CASE WHEN (h >> 32) % 2 = 0 THEN 1 ELSE -1 END) <> 0
         |ORDER BY doc_id, dim""".stripMargin,

    "q_pii" -> {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
      val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
      s"""WITH w AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
         |    doc_id::VARCHAR || '@example.com id 123-45-6789 call 555-867-5309'
         |  ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(regexp_replace(text, '$email', ' ', 'g'),
         |    '$ssn'))::BIGINT AS n_ssns,
         |  len(regexp_extract_all(regexp_replace(regexp_replace(text,
         |    '$email', ' ', 'g'), '$ssn', ' ', 'g'), '$phone'))::BIGINT AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '<EMAIL>', 'g'), '$ssn', '<SSN>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS redacted
         |FROM w ORDER BY doc_id""".stripMargin
    },

    "q_curate" ->
      // gopher quality + exact-hash keep + near-dup cluster keep +
      // decontamination vs the every-10th-doc benchmark, assembled from
      // the shared gopher/jaccard fragments
      s"""WITH RECURSIVE $gopherCtes,
         |$jaccardCtes,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |        UNION ALL SELECT doc_b, doc_a FROM pr),
         |walk(id, label) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT u.src, w.label FROM und u JOIN walk w ON w.id = u.dst),
         |cl AS (SELECT id AS doc_id,
         |  CASE WHEN min(label) <> id THEN 1 ELSE 0 END::BIGINT AS nd
         |  FROM walk GROUP BY id),
         |eh AS (SELECT doc_id, md5(text) AS h FROM documents),
         |ex AS (SELECT doc_id,
         |  CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY h)
         |       THEN 1 ELSE 0 END::BIGINT AS ed
         |  FROM eh),
         |dg AS (SELECT id AS doc_id, sz AS n_grams, ${hash56("g")} AS h FROM
         |  (SELECT id, sz, unnest(s) AS g FROM sh2)),
         |bg AS (SELECT DISTINCT ${hash56("g")} AS h FROM
         |  (SELECT unnest(s) AS g FROM sh2 WHERE id % 10 = 0)),
         |ct AS (SELECT doc_id,
         |  CASE WHEN count(CASE WHEN bg.h IS NOT NULL THEN 1 END)::DOUBLE
         |         / max(n_grams) >= 0.1 THEN 1 ELSE 0 END::BIGINT AS cm
         |  FROM dg LEFT JOIN bg USING (h) GROUP BY doc_id),
         |v AS (SELECT d.doc_id,
         |  coalesce(gq.quality_pass, 0) AS pass_quality,
         |  coalesce(ex.ed, 0) AS is_exact_dup,
         |  coalesce(cl.nd, 0) AS is_near_dup,
         |  coalesce(ct.cm, 0) AS is_contaminated
         |  FROM documents d
         |  LEFT JOIN gq ON gq.doc_id = d.doc_id
         |  LEFT JOIN ex ON ex.doc_id = d.doc_id
         |  LEFT JOIN cl ON cl.doc_id = d.doc_id
         |  LEFT JOIN ct ON ct.doc_id = d.doc_id)
         |SELECT doc_id, pass_quality, is_exact_dup, is_near_dup,
         |  is_contaminated,
         |  (CASE WHEN pass_quality = 1 AND is_exact_dup = 0
         |        AND is_near_dup = 0 AND is_contaminated = 0
         |   THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM v ORDER BY doc_id""".stripMargin,

    "q_pack_seqs" ->
      s"""WITH t AS (SELECT doc_id, len($toksExpr)::BIGINT AS n_tokens
         |  FROM documents),
         |f AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0),
         |c AS (SELECT doc_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS token_offset
         |  FROM f)
         |SELECT doc_id, n_tokens, token_offset,
         |  (token_offset // 512)::BIGINT AS start_seq,
         |  (token_offset % 512)::BIGINT AS start_offset,
         |  ((token_offset + n_tokens - 1) // 512)::BIGINT AS end_seq,
         |  (((token_offset + n_tokens - 1) // 512) - (token_offset // 512) + 1)::BIGINT
         |    AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_top_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |  i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS ngram
         |  FROM t),
         |dc AS (SELECT doc_id, ngram, count(*) AS c FROM g GROUP BY 1, 2)
         |SELECT ngram, count(*)::BIGINT AS n_docs, sum(c)::BIGINT AS "count"
         |FROM dc GROUP BY ngram
         |ORDER BY "count" DESC, ngram LIMIT 100""".stripMargin,

    "q_centroids" ->
      """SELECT label AS "group", d AS dim,
        |  sum(round(embedding[d + 1]::DOUBLE * 1e6, 0)::HUGEINT)::DOUBLE /
        |    (count(*)::DOUBLE * 1e6) AS value,
        |  count(*)::BIGINT AS n_vecs
        |FROM embeddings CROSS JOIN range(64) t(d)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_leak_split" ->
      // mirrors leakageSafeSplit over the exact-Jaccard cluster graph:
      // recursive-CTE components, split key = cluster id else doc id,
      // then the q_hash_split salted-hash thresholds on the key
      s"""WITH RECURSIVE $jaccardCtes,
         |pr AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.3),
         |und AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |        UNION ALL SELECT doc_b, doc_a FROM pr),
         |walk(id, label) AS (
         |  SELECT src, src FROM und
         |  UNION
         |  SELECT u.src, w.label FROM und u JOIN walk w ON w.id = u.dst),
         |cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk
         |  GROUP BY id),
         |k AS (SELECT d.doc_id,
         |  coalesce(cl.cluster_id, d.doc_id)::BIGINT AS split_key
         |  FROM documents d LEFT JOIN cl USING (doc_id)),
         |b AS (SELECT doc_id, split_key,
         |  ${hash56("'graft:' || split_key::VARCHAR")} % 1000 AS bucket
         |  FROM k)
         |SELECT doc_id, split_key, bucket,
         |  CASE WHEN bucket < 900 THEN 'train'
         |       WHEN bucket < 950 THEN 'valid' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_pmi" ->
      // mirrors Collocations.pmiTopK(k=200, window=2, minCount=5):
      // in-window unordered pairs, exact counts, single ln per pair
      // with the identical explicit operation order, snapped 1e-6
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |pos AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i
         |  FROM t WHERE len(toks) > 1),
         |pr AS (SELECT doc_id,
         |  least(toks[(i + 1)::INT], toks[(i + 1 + d)::INT]) AS a,
         |  greatest(toks[(i + 1)::INT], toks[(i + 1 + d)::INT]) AS b
         |  FROM pos CROSS JOIN (SELECT unnest(range(1, 3)) AS d) o
         |  WHERE i + d <= len(toks) - 1),
         |pc AS (SELECT a, b, count(*) AS cab FROM pr GROUP BY 1, 2),
         |tc AS (SELECT tok, count(*) AS c FROM
         |  (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
         |sc AS (SELECT (SELECT sum(cab) FROM pc)::DOUBLE AS p,
         |  (SELECT sum(c) FROM tc)::DOUBLE AS n)
         |SELECT pc.a, pc.b, pc.cab AS n_pairs,
         |  round(ln(((pc.cab::DOUBLE * sc.n) * sc.n) /
         |    ((sc.p * ca.c::DOUBLE) * cb.c::DOUBLE)) * 1e6, 0)::BIGINT
         |    AS pmi_scaled,
         |  (round(ln(((pc.cab::DOUBLE * sc.n) * sc.n) /
         |    ((sc.p * ca.c::DOUBLE) * cb.c::DOUBLE)) * 1e6, 0)::BIGINT)::DOUBLE
         |    / 1e6 AS pmi
         |FROM pc JOIN tc ca ON ca.tok = pc.a JOIN tc cb ON cb.tok = pc.b
         |  CROSS JOIN sc
         |WHERE pc.cab >= 5
         |ORDER BY pmi_scaled DESC, a, b LIMIT 200""".stripMargin,

    "q_dsir" ->
      // mirrors CorpusOps.dsirSample: add-1-smoothed target/raw
      // unigram LMs, per-token ln snapped to the 1e-6 grid as scaled
      // longs, exact integer per-doc sums, bounded top-100
      s"""WITH tk AS (SELECT doc_id,
         |  (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS t,
         |  unnest($toksExpr) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS cr, sum(t) AS ct FROM tk GROUP BY 1),
         |s AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM c),
         |w AS (SELECT tok,
         |  round(ln((ct + 1)::DOUBLE / (nt + v)::DOUBLE) * 1e6, 0)::BIGINT -
         |  round(ln((cr + 1)::DOUBLE / (nr + v)::DOUBLE) * 1e6, 0)::BIGINT
         |    AS lw
         |  FROM c CROSS JOIN s),
         |d AS (SELECT doc_id, sum(lw)::BIGINT AS lw_scaled,
         |  count(*)::BIGINT AS n_tokens
         |  FROM tk JOIN w USING (tok) GROUP BY 1)
         |SELECT doc_id, n_tokens, lw_scaled,
         |  lw_scaled::DOUBLE / 1e6 AS log_weight
         |FROM d ORDER BY lw_scaled DESC, doc_id LIMIT 100""".stripMargin,

    "q_quality_clf" -> qualityClfSql(3, 0.5, 0.0),
    "q_quality_clf_l2" -> qualityClfSql(10, 0.5, 0.001),
    "q_quality_clf_norm" -> qualityClfNormSql(15, 6.0, 0.0),

    // the quality-stack composite: gopher + normalized classifier + LM
    // tercile replayed from their SHARED CTE generators, one verdict
    // per doc (empty docs carry the 'empty' bucket via the left join)
    "q_quality_stack" ->
      s"""WITH $gopherCtes,
         |${clfNormTrainCtes(15, 6.0, 0.0)},
         |${clfNormScoreCtes(15)},
         |$lmPplCtes
         |SELECT gq.doc_id, gq.quality_pass,
         |  nsc.predicted AS clf_pass,
         |  coalesce(f.bucket, 'empty') AS lm_bucket,
         |  (CASE WHEN gq.quality_pass = 1 AND nsc.predicted = 1
         |        AND coalesce(f.bucket, 'empty') <> 'tail'
         |    THEN 1 ELSE 0 END)::INT AS admitted
         |FROM gq JOIN nsc USING (doc_id)
         |LEFT JOIN fin f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q_pagerank" -> pageRankSql(10),

    // the crawl-frontier composite: link derivation over the doubled
    // target space, the shared PageRank chain (frontier nodes
    // dangling), the constructed canonical normal form (q_url_canon
    // pattern), the Bloom seen-gate's bit math (q_bloom_dedup
    // pattern), and the top-50 priority pick
    "q_frontier" ->
      s"""WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
         |tk AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |ed0 AS (SELECT doc_id AS src,
         |    (${hash56("t || ':' || (doc_id % 97)::VARCHAR")}) % (2 * nn.n) AS dst
         |  FROM (SELECT doc_id, unnest(list_slice(toks, 1, 3)) AS t FROM tk)
         |  CROSS JOIN nn),
         |edges AS (SELECT DISTINCT src, dst FROM ed0 WHERE src <> dst),
         |prnodes AS (SELECT doc_id AS node FROM documents
         |  UNION ALL SELECT doc_id + nn.n AS node FROM documents CROSS JOIN nn),
         |prn AS (SELECT count(*)::BIGINT AS n FROM prnodes),
         |${pageRankChain(10)},
         |cand AS (SELECT dst, count(DISTINCT src)::BIGINT AS n_refs,
         |    'http://crawl.example.com/d/' || dst AS url
         |  FROM edges GROUP BY dst),
         |ks AS (SELECT unnest(range(3)) AS i),
         |exh AS (SELECT ${hash56("'gb1:' || url")} % 32768 AS h1,
         |               1 + ${hash56("'gb2:' || url")} % 32767 AS h2
         |  FROM (SELECT 'http://crawl.example.com/d/' || doc_id AS url
         |        FROM documents)),
         |setbits AS (SELECT DISTINCT (h1 + i * h2) % 32768 AS pos
         |  FROM exh CROSS JOIN ks),
         |ch AS (SELECT dst, ${hash56("'gb1:' || url")} % 32768 AS h1,
         |               1 + ${hash56("'gb2:' || url")} % 32767 AS h2 FROM cand),
         |cpos AS (SELECT dst, (h1 + i * h2) % 32768 AS pos
         |  FROM ch CROSS JOIN ks),
         |need AS (SELECT dst, count(DISTINCT pos) AS need FROM cpos GROUP BY 1),
         |hit AS (SELECT p.dst, count(DISTINCT p.pos) AS hits
         |  FROM cpos p JOIN setbits sb ON p.pos = sb.pos GROUP BY 1),
         |fresh AS (SELECT c.dst, c.url, c.n_refs
         |  FROM cand c JOIN need n USING (dst) LEFT JOIN hit h USING (dst)
         |  WHERE coalesce(h.hits, 0) <> n.need),
         |topk AS (SELECT f.url, f.dst, f.n_refs, r.r AS rank_pico
         |  FROM fresh f JOIN r10 r ON r.node = f.dst
         |  ORDER BY rank_pico DESC, url LIMIT 50)
         |SELECT url, dst, n_refs, rank_pico FROM topk
         |ORDER BY dst""".stripMargin,

    // mirrors TextOps.normalizeText: NFC canonical composition then
    // lowercase — DuckDB's utf8proc and the JVM's Normalizer implement
    // the same UAX #15 composition, and the planted alphabet (ASCII +
    // Latin-1 accented + vowel-with-combining-acute) lowercases 1:1
    // identically in both
    "q_text_norm" ->
      """SELECT doc_id, lower(nfc_normalize(
        |    upper(substr(text, 1, 16)) || ' ' ||
        |    chr((192 + doc_id % 23)::INT) || ' ' ||
        |    substr('AEIOU', (doc_id % 5)::INT + 1, 1) || chr(769)))
        |  AS norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors the one-row corpus report card: exact integer counts and
    // half-away 1e-6-grid rates, gopher pass count from the shared CTEs
    "q_corpus_report" ->
      s"""WITH $gopherCtes,
         |base AS (SELECT count(*)::BIGINT AS n_docs,
         |  count(DISTINCT source)::BIGINT AS n_sources,
         |  count(DISTINCT lang)::BIGINT AS n_langs,
         |  sum(len($toksExpr))::BIGINT AS n_tokens,
         |  sum(n_chars)::BIGINT AS n_chars,
         |  count(DISTINCT text)::BIGINT AS n_distinct_texts
         |  FROM documents),
         |tl AS (SELECT lang AS top_lang, count(*)::BIGINT AS top_lang_docs
         |  FROM documents GROUP BY 1
         |  ORDER BY top_lang_docs DESC, top_lang LIMIT 1),
         |gp AS (SELECT sum(CASE WHEN quality_pass = 1 THEN 1 ELSE 0 END)::BIGINT
         |  AS gopher_pass FROM gq)
         |SELECT n_docs, n_sources, n_langs, n_tokens, n_chars,
         |  n_distinct_texts,
         |  (2 * (n_docs - n_distinct_texts) * 1000000 + n_docs) // (2 * n_docs)
         |    AS dup_rate_micro,
         |  top_lang, top_lang_docs, gopher_pass,
         |  (2 * gopher_pass * 1000000 + n_docs) // (2 * n_docs)
         |    AS gopher_rate_micro
         |FROM base CROSS JOIN tl CROSS JOIN gp""".stripMargin,

    // mirrors TextStats.classTfidf(topK=5): integer tf/f, the ln
    // snapped at 1e-6, per-class rank by (score desc, token)
    "q_class_tfidf" ->
      s"""WITH tok AS (SELECT source AS grp, unnest($toksExpr) AS token
         |  FROM documents),
         |tfc AS (SELECT grp, token, count(*)::BIGINT AS tf
         |  FROM tok GROUP BY 1, 2),
         |ft AS (SELECT token, sum(tf)::BIGINT AS f FROM tfc GROUP BY 1),
         |cs AS (SELECT sum(tf)::BIGINT AS tot,
         |  count(DISTINCT grp)::BIGINT AS ncl FROM tfc),
         |sc AS (SELECT grp, token, tf,
         |  tf * round(ln(1.0 + (tot::DOUBLE) / ncl / f) * 1e6, 0)::BIGINT
         |    AS score_micro
         |  FROM tfc JOIN ft USING (token) CROSS JOIN cs),
         |r AS (SELECT grp, token, tf, score_micro,
         |  row_number() OVER (PARTITION BY grp
         |    ORDER BY score_micro DESC, token) AS rank FROM sc)
         |SELECT grp AS "group", token, tf, score_micro, rank::INT AS rank
         |FROM r WHERE rank <= 5 ORDER BY "group", rank""".stripMargin,

    // mirrors CorpusOps.stratifiedSample(k=200): integer Hamilton
    // allocation (floor + largest-remainder top-ups, ties by group),
    // then the q_sample_k rank pick capped per stratum
    "q_stratified_sample" ->
      s"""WITH cnt AS (SELECT source AS g, count(*)::BIGINT AS ng
         |  FROM documents GROUP BY 1),
         |tt AS (SELECT sum(ng)::BIGINT AS nn FROM cnt),
         |al AS (SELECT g, ng, (200 * ng) // nn AS base, (200 * ng) % nn AS rem
         |  FROM cnt CROSS JOIN tt),
         |ar AS (SELECT g, base,
         |    row_number() OVER (ORDER BY rem DESC, g) AS rr,
         |    sum(base) OVER () AS bs FROM al),
         |aa AS (SELECT g, (base +
         |    CASE WHEN rr <= 200 - bs THEN 1 ELSE 0 END)::BIGINT AS alloc
         |  FROM ar),
         |h AS (SELECT doc_id, source AS g,
         |  ${hash56("'pick:graft:' || doc_id::VARCHAR")} AS hv FROM documents),
         |r AS (SELECT doc_id, g,
         |  row_number() OVER (PARTITION BY g ORDER BY hv, doc_id) AS pick_rank
         |  FROM h)
         |SELECT doc_id, g AS source, pick_rank::INT AS pick_rank, alloc
         |FROM r JOIN aa USING (g) WHERE pick_rank <= alloc
         |ORDER BY source, pick_rank""".stripMargin,

    // mirrors CorpusOps.weightedSample: A-ES keys ln(u)/w with
    // u = (hash56+1)/(2^56+1) and the ln snapped at 1e-6; top-120 by
    // (key DESC, doc_id) — both engines sort the identical doubles
    "q_weighted_sample" ->
      s"""WITH h AS (SELECT doc_id, n_chars::BIGINT AS weight,
         |    ${hash56("'ws' || ':' || 'graft' || ':' || doc_id::VARCHAR")} AS hv
         |  FROM documents WHERE n_chars > 0),
         |kk AS (SELECT doc_id, weight,
         |    round(ln((hv + 1) / 72057594037927937) * 1e6, 0)::BIGINT AS lnu
         |  FROM h),
         |sel AS (SELECT doc_id, weight, lnu::DOUBLE / weight AS key FROM kk
         |  ORDER BY key DESC, doc_id LIMIT 120)
         |SELECT doc_id, weight, key FROM sel ORDER BY doc_id""".stripMargin,

    // mirrors LmPerplexity.buckets: KN-bigram probabilities as fixed
    // IEEE expressions over integer counts, ln snapped at 1e-6, exact
    // long doc sums, 1e-9-grid half-away rate, percentile_disc tercile
    // cuts replayed with the q_quantiles histogram formulation
    "q_lm_ppl" ->
      s"""WITH $lmPplCtes
         |SELECT d.doc_id, coalesce(f.n, 0)::BIGINT AS n_bigrams,
         |  coalesce(f.s, 0)::BIGINT AS lp_micro,
         |  coalesce(f.ppl, -1.0) AS ppl,
         |  coalesce(f.bucket, 'empty') AS bucket
         |FROM documents d LEFT JOIN fin f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // mirrors LmPerplexity.buckets3: the KN trigram chain replayed
    // CTE-for-CTE (seen-context discount over the exact bigram
    // backoff, 1e-6 ln snap, 1e-9-grid rate, percentile_disc terciles)
    "q_lm_ppl3" ->
      s"""WITH $lm3PplCtes
         |SELECT d.doc_id, coalesce(f.n, 0)::BIGINT AS n_trigrams,
         |  coalesce(f.s, 0)::BIGINT AS lp_micro,
         |  coalesce(f.ppl, -1.0) AS ppl,
         |  coalesce(f.bucket, 'empty') AS bucket
         |FROM documents d LEFT JOIN fin3 f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // mirrors LmPerplexity.bucketsN at n=5: the order-generic KN
    // chain (one training stream feeds every count table, nested
    // seen/unseen backoff CASE bottoming in the continuation floor,
    // 1e-6 ln snap, 1e-9-grid rate, percentile_disc terciles)
    "q_lm_ppl5" ->
      s"""WITH $lm5PplCtes
         |SELECT d.doc_id, coalesce(f.n, 0)::BIGINT AS n_events,
         |  coalesce(f.s, 0)::BIGINT AS lp_micro,
         |  coalesce(f.ppl, -1.0) AS ppl,
         |  coalesce(f.bucket, 'empty') AS bucket
         |FROM documents d LEFT JOIN q5fin f USING (doc_id)
         |ORDER BY doc_id""".stripMargin,


    "q_pca_gram" ->
      // mirrors Pca.covarianceLong: 1e6 fixed-point snap, exact
      // HUGEINT second moments, one double division rounded 1e-9
      """WITH sv AS (SELECT list_transform(embedding,
        |    x -> round(x::DOUBLE * 1e6, 0)::HUGEINT) AS v FROM embeddings),
        |pr AS (SELECT i, j, v[i + 1] * v[j + 1] AS p FROM sv
        |  CROSS JOIN range(64) ti(i) CROSS JOIN range(64) tj(j)
        |  WHERE j >= i),
        |mo AS (SELECT i, j, sum(p) AS spp, count(*) AS n
        |  FROM pr GROUP BY 1, 2),
        |ds AS (SELECT d, sum(v[d + 1]) AS sd
        |  FROM sv CROSS JOIN range(64) t(d) GROUP BY 1)
        |SELECT mo.i::INT AS i, mo.j::INT AS j,
        |  round((mo.n * mo.spp - dsi.sd * dsj.sd)::DOUBLE /
        |    (mo.n::DOUBLE * (mo.n - 1)::DOUBLE * 1e12), 9) AS cov,
        |  mo.n::BIGINT AS n
        |FROM mo JOIN ds dsi ON dsi.d = mo.i
        |        JOIN ds dsj ON dsj.d = mo.j
        |ORDER BY 1, 2""".stripMargin,

    "q_knn_label" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, label
         |  FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, label,
         |  list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * cv[i]::DOUBLE)) /
         |  (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i]::DOUBLE * qv[i]::DOUBLE))) *
         |   sqrt(list_sum(list_transform(range(1, 65), i -> cv[i]::DOUBLE * cv[i]::DOUBLE)))) AS cos
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         |rk AS (SELECT query_id, neighbor_id, label, cos,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored),
         |votes AS (SELECT query_id, label, count(*)::BIGINT AS votes
         |  FROM rk WHERE rank <= 10 GROUP BY 1, 2),
         |best AS (SELECT query_id, label AS pred_label, votes,
         |  row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr
         |  FROM votes)
         |SELECT query_id, pred_label, votes FROM best WHERE vr = 1
         |ORDER BY query_id""".stripMargin,

    "q_sample_mix" ->
      s"""WITH t AS (SELECT source, len($toksExpr)::BIGINT AS tk FROM documents),
         |d AS (SELECT source, count(*) AS n_docs, sum(tk) AS n_tokens
         |  FROM t GROUP BY source),
         |s AS (SELECT source, n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS share
         |  FROM d),
         |m AS (SELECT source, share,
         |  CAST(round(sqrt(share) * 1e15, 0) AS HUGEINT) AS fm FROM s),
         |mx AS (SELECT source, round(share, 9) AS ts,
         |  round(fm::DOUBLE / (sum(fm) OVER ())::DOUBLE, 9) AS w FROM m),
         |r AS (SELECT source, w / ts AS rr FROM mx),
         |rates AS (SELECT source, rr / (max(rr) OVER ()) AS rate FROM r),
         |k AS (SELECT doc_id, source,
         |  (${hash56("'sample:graft:' || doc_id::VARCHAR")} % 1000000)::DOUBLE / 1e6 AS u
         |  FROM documents)
         |SELECT doc_id, k.source, u FROM k JOIN rates USING (source)
         |WHERE u < rate ORDER BY doc_id""".stripMargin,

    "q_mix_weights" ->
      s"""WITH t AS (SELECT source, len($toksExpr)::BIGINT AS tk FROM documents),
         |d AS (SELECT source, count(*) AS n_docs, sum(tk) AS n_tokens
         |  FROM t GROUP BY source),
         |s AS (SELECT source, n_docs, n_tokens,
         |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS share FROM d),
         |m AS (SELECT source, n_docs, n_tokens, share,
         |  CAST(round(sqrt(share) * 1e15, 0) AS HUGEINT) AS fm FROM s)
         |SELECT source, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
         |  round(share, 9) AS token_share,
         |  round(fm::DOUBLE / (sum(fm) OVER ())::DOUBLE, 9) AS weight
         |FROM m ORDER BY source""".stripMargin,

    "q_mix_alloc" ->
      s"""WITH t AS (SELECT source, len($toksExpr)::BIGINT AS tk FROM documents),
         |d AS (SELECT source, count(*) AS n_docs, sum(tk) AS n_tokens
         |  FROM t GROUP BY source),
         |s AS (SELECT source, n_docs, n_tokens,
         |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS share FROM d),
         |m AS (SELECT source, n_docs, n_tokens,
         |  CAST(round(sqrt(share) * 1e15, 0) AS HUGEINT) AS fm FROM s),
         |w AS (SELECT source, n_docs, n_tokens,
         |  round(fm::DOUBLE / (sum(fm) OVER ())::DOUBLE, 9) AS weight FROM m),
         |a AS (SELECT source, n_docs, n_tokens, weight,
         |  CAST(round(weight * 84000.0, 0) AS BIGINT) AS target_tokens,
         |  CAST(round(3.0 * n_tokens::DOUBLE, 0) AS BIGINT) AS cap FROM w)
         |SELECT source, n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
         |  weight, target_tokens,
         |  least(target_tokens, cap) AS achieved_tokens,
         |  target_tokens - least(target_tokens, cap) AS deficit_tokens,
         |  round(least(target_tokens, cap)::DOUBLE / n_tokens::DOUBLE, 9) AS epochs
         |FROM a ORDER BY source""".stripMargin,

    "q_mix_divcap" ->
      // mirrors CorpusOps.mixtureDiversityCap(28000, k=10, alpha=0.5,
      // maxRepeat=3): the q_mix_alloc weight chain with the cap taken
      // from the q_sample_k hash-pick's token mass
      s"""WITH t AS (SELECT source, doc_id, len($toksExpr)::BIGINT AS tk
         |  FROM documents),
         |hp AS (SELECT source, doc_id, tk,
         |  ${hash56("'pick:graft:' || doc_id::VARCHAR")} AS hv FROM t),
         |rk AS (SELECT source, tk,
         |  row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
         |    AS rn FROM hp),
         |p AS (SELECT source, count(*) FILTER (rn <= 10) AS cap_docs,
         |  sum(tk) FILTER (rn <= 10) AS pick_tok FROM rk GROUP BY source),
         |d AS (SELECT source, count(*) AS n_docs, sum(tk) AS n_tokens
         |  FROM t GROUP BY source),
         |s AS (SELECT source, n_docs, n_tokens,
         |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS share FROM d),
         |m AS (SELECT source, n_docs, n_tokens,
         |  CAST(round(sqrt(share) * 1e15, 0) AS HUGEINT) AS fm FROM s),
         |w AS (SELECT source, n_docs, n_tokens,
         |  round(fm::DOUBLE / (sum(fm) OVER ())::DOUBLE, 9) AS weight FROM m),
         |a AS (SELECT w.source, n_docs, n_tokens, weight,
         |  CAST(round(weight * 28000.0, 0) AS BIGINT) AS target_tokens,
         |  cap_docs::BIGINT AS cap_docs,
         |  CAST(round(3.0 * pick_tok::DOUBLE, 0) AS BIGINT) AS cap_tokens,
         |  pick_tok
         |  FROM w JOIN p ON w.source = p.source)
         |SELECT source, n_docs::BIGINT AS n_docs,
         |  n_tokens::BIGINT AS n_tokens, weight, target_tokens, cap_docs,
         |  cap_tokens,
         |  least(target_tokens, cap_tokens) AS achieved_tokens,
         |  target_tokens - least(target_tokens, cap_tokens) AS deficit_tokens,
         |  CASE WHEN pick_tok > 0 THEN round(
         |    least(target_tokens, cap_tokens)::DOUBLE / pick_tok::DOUBLE, 9)
         |  END AS epochs
         |FROM a ORDER BY source""".stripMargin,

    "q_mix_waterfill" ->
      s"""WITH t AS (SELECT source, len($toksExpr)::BIGINT AS tk FROM documents),
         |d AS (SELECT source, count(*) AS n_docs, sum(tk) AS n_tokens
         |  FROM t GROUP BY source),
         |sh AS (SELECT source, n_docs, n_tokens,
         |  n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS share FROM d),
         |m AS (SELECT source, n_docs, n_tokens,
         |  CAST(round(sqrt(share) * 1e15, 0) AS HUGEINT) AS fm FROM sh),
         |w AS (SELECT source, n_docs, n_tokens,
         |  round(fm::DOUBLE / (sum(fm) OVER ())::DOUBLE, 9) AS weight FROM m),
         |base AS (SELECT source, n_docs, n_tokens, weight,
         |  CAST(round(3.0 * n_tokens::DOUBLE, 0) AS BIGINT) AS cap,
         |  CAST(round(weight * 1e9, 0) AS BIGINT) AS w9 FROM w),
         |r AS (SELECT *, cap::DOUBLE * 1e9 / (w9::DOUBLE * 80000.0) AS rr
         |  FROM base),
         |p AS (SELECT *, sum(w9) OVER () AS s,
         |  sum(cap) OVER (ORDER BY rr, source) AS ck,
         |  sum(w9) OVER (ORDER BY rr, source) AS wk,
         |  lead(cap) OVER (ORDER BY rr, source) AS capn,
         |  lead(w9) OVER (ORDER BY rr, source) AS w9n FROM r),
         |v AS (SELECT *,
         |  CASE WHEN wk = s THEN ck <= 80000
         |    ELSE cap::HUGEINT * (s - wk)::HUGEINT
         |           <= (80000 - ck)::HUGEINT * w9::HUGEINT
         |      AND (capn IS NULL OR capn::HUGEINT * (s - wk)::HUGEINT
         |           > (80000 - ck)::HUGEINT * w9n::HUGEINT) END AS valid,
         |  CASE WHEN wk = s THEN NULL
         |    ELSE ((80000 - ck)::DOUBLE * s::DOUBLE)
         |      / (80000.0 * (s - wk)::DOUBLE) END AS tk2,
         |  cap::HUGEINT * s::HUGEINT <= w9::HUGEINT * 80000::HUGEINT AS c1
         |  FROM p),
         |lvl AS (SELECT max(CASE WHEN c1 THEN 1 ELSE 0 END) AS any1,
         |  max(CASE WHEN valid THEN tk2 END) AS tv,
         |  max(CASE WHEN valid AND wk = s THEN 1 ELSE 0 END) AS allc FROM v),
         |fin AS (SELECT source, n_docs::BIGINT AS n_docs,
         |  n_tokens::BIGINT AS n_tokens, weight, cap AS cap_tokens,
         |  CASE WHEN allc = 1 AND any1 = 1 THEN NULL
         |    ELSE round(CASE WHEN any1 = 0 THEN 1.0 ELSE tv END, 9)
         |  END AS water_level,
         |  CASE WHEN allc = 1 AND any1 = 1 THEN cap
         |    ELSE least(cap, CAST(round(
         |      (CASE WHEN any1 = 0 THEN 1.0 ELSE tv END
         |        * (w9::DOUBLE * 80000.0)) / s::DOUBLE, 0) AS BIGINT))
         |  END AS alloc_tokens
         |  FROM v CROSS JOIN lvl)
         |SELECT source, n_docs, n_tokens, weight, cap_tokens, water_level,
         |  alloc_tokens, alloc_tokens = cap_tokens AS capped
         |FROM fin ORDER BY source""".stripMargin,

    "q_asof_attrib" ->
      """WITH clicks AS (
        |  SELECT event_id, ts, user_id, value FROM events
        |  WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, event_id AS view_id, value AS view_value
        |  FROM events WHERE event_type = 'view')
        |SELECT c.event_id, c.ts, c.user_id, c.value,
        |  v.view_id AS asof_view_id, v.view_value AS asof_view_value,
        |  v.ts AS asof_ts
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND c.ts >= v.ts
        |ORDER BY c.event_id""".stripMargin,

    // mirrors Search.bm25Scores/bm25TopK 1:1: idf snapped to the 1e-9
    // grid per term, tf saturation in identical operand order, per-pair
    // sum via list_reduce over term-ordered contributions (a left-to-
    // right accumulation starting at 0.0, exactly Spark's `aggregate`
    // over the array_sort'ed collect_list)
    "q_bm25" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |postings AS (SELECT doc_id, term, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |pl AS (SELECT doc_id, term, tf,
         |  (sum(tf) OVER (PARTITION BY doc_id))::BIGINT AS dl FROM postings),
         |df AS (SELECT term, count(*) AS df FROM
         |  (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t) GROUP BY 1),
         |stats AS (SELECT count(*) AS n, sum(len)::BIGINT AS s FROM
         |  (SELECT len(toks) AS len FROM t) WHERE len > 0),
         |qterms AS (SELECT doc_id AS query_id,
         |  unnest(list_distinct(list_slice(toks, 1, 8))) AS term
         |  FROM t WHERE doc_id < 5),
         |contribs AS (
         |  SELECT q.query_id, p.doc_id, p.term,
         |    round(ln(1.0 + (st.n - d.df + 0.5) / (d.df + 0.5)), 9) *
         |    ((p.tf * 2.2) / (p.tf + 1.2 *
         |      (0.25 + 0.75 * p.dl / (st.s::DOUBLE / st.n)))) AS c
         |  FROM qterms q JOIN pl p ON p.term = q.term
         |  JOIN df d ON d.term = q.term CROSS JOIN stats st),
         |scores AS (
         |  SELECT query_id, doc_id,
         |    round(list_reduce(list_prepend(0.0::DOUBLE, list(c ORDER BY term)),
         |      (a, b) -> a + b), 9) AS score
         |  FROM contribs GROUP BY 1, 2),
         |ranked AS (SELECT query_id, doc_id, score,
         |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
         |    AS rank FROM scores)
         |SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // same df-capped candidate CTEs as q_jaccard_pairs, then exact
    // verification against the full shingle sets (list_intersect), like
    // the q_minhash_neardup oracle
    "q_containment" ->
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |sh AS (SELECT doc_id AS id, ${shinglesExpr("toks", 3)} AS s FROM t),
         |sh2 AS (SELECT id, s, len(s) AS sz FROM sh WHERE len(s) > 0),
         |posts AS (SELECT id, unnest(s) AS g FROM sh2),
         |kept AS (SELECT id, g FROM (
         |  SELECT id, g, count(*) OVER (PARTITION BY g) AS df FROM posts)
         |  WHERE df <= 100),
         |cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id),
         |v AS (SELECT doc_a, doc_b,
         |  len(list_intersect(sa.s, sb.s))::BIGINT AS common,
         |  round(len(list_intersect(sa.s, sb.s))::DOUBLE / least(sa.sz, sb.sz), 9)
         |    AS containment
         |  FROM cand JOIN sh2 sa ON sa.id = doc_a JOIN sh2 sb ON sb.id = doc_b)
         |SELECT doc_a, doc_b, common, containment FROM v
         |WHERE containment >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,

    // mirrors TextStats.unigramLogProb: ln(cf/C) snapped per TERM to
    // the 1e-6 grid (widened from 1e-8 after the 50k-doc probe —
    // SURVEY §5.7)
    "q_unigram_lp" ->
      // integer-grid twin of TextStats.unigramLogProb: 1e-6-scaled-long
      // per-term snap, exact order-free sums, exact half-away 1e-9
      // division (the previous double-path round(s/n, 9) diverged
      // between engines on exact .5e-9 ties — round-7 probe)
      s"""WITH t AS (SELECT doc_id, $toksExpr AS toks FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY 1),
         |tot AS (SELECT sum(cf)::BIGINT AS c FROM cf),
         |contribs AS (
         |  SELECT tf.doc_id,
         |    tf.tf * round(ln(cf.cf::DOUBLE / tot.c) * 1e6, 0)::BIGINT AS lps
         |  FROM tf JOIN cf ON cf.term = tf.term CROSS JOIN tot),
         |sums AS (SELECT doc_id, sum(lps)::BIGINT AS s
         |  FROM contribs GROUP BY doc_id),
         |nt AS (SELECT doc_id, sum(tf)::BIGINT AS n_tokens FROM tf GROUP BY doc_id),
         |fin AS (SELECT s.doc_id, nt.n_tokens, s.s * 1000 AS num
         |  FROM sums s JOIN nt USING (doc_id))
         |SELECT doc_id, n_tokens,
         |  ((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
         |    ((2 * abs(num) + n_tokens) // (2 * n_tokens)))::DOUBLE / 1e9
         |    AS logprob
         |FROM fin ORDER BY doc_id""".stripMargin,

    // exact heavy hitters: the Spark side prunes with a Misra-Gries
    // candidate sketch, but the OUTPUT is exact counts, so the oracle
    // is the plain exact formulation
    "q_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest($toksExpr) AS token FROM documents),
         |tot AS (SELECT count(*)::BIGINT AS n FROM toks),
         |cnt AS (SELECT token, count(*)::BIGINT AS cnt
         |  FROM toks GROUP BY token)
         |SELECT token, cnt FROM cnt CROSS JOIN tot
         |WHERE cnt * 500 >= 1 * n ORDER BY token""".stripMargin,

    // bit-level Count-Min replay: the counter grid from per-distinct-
    // token weighted inserts (equal to per-occurrence inserts), the
    // estimate as an integer min over each probe token's d cells —
    // collisions and overcounts reproduce exactly
    "q_cms_freq" ->
      s"""WITH toks AS (SELECT unnest($toksExpr) AS token FROM documents),
         |tot AS (SELECT count(*)::BIGINT AS n FROM toks),
         |cnt AS (SELECT token, count(*)::BIGINT AS cnt
         |        FROM toks GROUP BY token),
         |ks AS (SELECT unnest(range(4)) AS j),
         |h AS (SELECT token, cnt,
         |        ${hash56("'gc1:' || token")} % 512 AS h1,
         |        1 + ${hash56("'gc2:' || token")} % 511 AS h2 FROM cnt),
         |grid AS (SELECT j * 512 + (h1 + j * h2) % 512 AS pos,
         |           sum(cnt)::BIGINT AS c
         |         FROM h CROSS JOIN ks GROUP BY 1),
         |probe AS (SELECT token, cnt FROM cnt CROSS JOIN tot
         |          WHERE cnt * 500 >= 1 * n),
         |ph AS (SELECT token, cnt,
         |         ${hash56("'gc1:' || token")} % 512 AS h1,
         |         1 + ${hash56("'gc2:' || token")} % 511 AS h2 FROM probe),
         |ppos AS (SELECT token, cnt, j * 512 + (h1 + j * h2) % 512 AS pos
         |         FROM ph CROSS JOIN ks),
         |est AS (SELECT p.token, p.cnt,
         |          min(coalesce(g.c, 0))::BIGINT AS cms_count
         |        FROM ppos p LEFT JOIN grid g USING (pos)
         |        GROUP BY 1, 2)
         |SELECT token, cnt, cms_count FROM est ORDER BY token""".stripMargin,

    // WET extraction: the Spark side wraps each doc in an HTML template
    // and extracts; the oracle builds the expected normal form (the
    // template's visible blocks + the whitespace-normalized text)
    // directly from the table. trim(x, ' ') / explicit char classes
    // keep both engines on the identical normalization.
    "q_wet_extract" ->
      s"""SELECT doc_id,
         |  array_to_string(list_filter(
         |    ['Doc ' || doc_id::VARCHAR,
         |     array_to_string(list_filter(list_transform(
         |        string_split(text, chr(10)),
         |        l -> trim(regexp_replace(l, '[ \\t\\x0B\\f\\r]+', ' ', 'g'), ' ')),
         |        l -> l <> ''), chr(10)),
         |     'footer &copy; corp'], x -> x <> ''), chr(10)) AS text
         |FROM documents ORDER BY doc_id""".stripMargin,

    // byte-lossless WARC round trip: the Spark side goes corpus ->
    // encoded WARC part files -> DSv2 read -> decode; the oracle reads
    // the source table directly
    "q_warc_roundtrip" ->
      s"""SELECT doc_id,
         |  octet_length(encode(text))::BIGINT AS n_bytes,
         |  text
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the JSONL round trip must restore the table byte-for-byte: the
    // oracle reads the parquet directly and rebuilds the escape-probe
    // column (quote, backslash, newline, tab, combining acute)
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  chr(34) || 'q' || chr(92) || chr(10) || chr(9) ||
        |    substr(text, 1, 8) || chr(769) AS probe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // END-TO-END corpus refresh: every stage replayed as nested CTEs —
    // the batch construction, expected URL/WET normal forms, the Bloom
    // gate's bit math (false positives included), gopher + classifier
    // over the gate survivors (training CTEs over the full corpus, the
    // pre-trained-model pattern), min-id exact dedup, the span-dedup
    // rewrite over survivors, the merge window replay, and the one-
    // window shard formulation
    "q_corpus_pipeline" ->
      s"""WITH batch AS (
         |  SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL SELECT doc_id, 'v2 ' || text AS text, source
         |    FROM documents WHERE doc_id % 8 = 4
         |  UNION ALL SELECT doc_id,
         |      upper(substr(text, 1, 16)) || substr(text, 17) AS text, source
         |    FROM documents WHERE doc_id % 10 = 0 AND doc_id % 8 <> 4
         |  UNION ALL SELECT doc_id + 200000 AS doc_id, upper(text) AS text,
         |      source
         |    FROM documents WHERE doc_id % 10 = 1),
         |wet AS (SELECT doc_id,
         |    'http://crawl.example.com/' || source || '/' || doc_id::VARCHAR ||
         |      '/Asset-~v?q=%20raw&u=~' AS url,
         |    ${wetFormSql("text")} AS wtext,
         |    lower(nfc_normalize(${wetFormSql("text")})) AS ntext
         |  FROM batch),
         |exw AS (SELECT doc_id,
         |    lower(nfc_normalize(${wetFormSql("text")})) AS ntext
         |  FROM documents WHERE doc_id % 2 = 0),
         |ks AS (SELECT unnest(range(3)) AS i),
         |bexh AS (SELECT ${hash56("'gb1:' || ntext")} % 2048 AS h1,
         |               1 + ${hash56("'gb2:' || ntext")} % 2047 AS h2 FROM exw),
         |setbits AS (SELECT DISTINCT (h1 + i * h2) % 2048 AS pos
         |            FROM bexh CROSS JOIN ks),
         |binch AS (SELECT doc_id,
         |               ${hash56("'gb1:' || ntext")} % 2048 AS h1,
         |               1 + ${hash56("'gb2:' || ntext")} % 2047 AS h2 FROM wet),
         |bipos AS (SELECT doc_id, (h1 + i * h2) % 2048 AS pos
         |          FROM binch CROSS JOIN ks),
         |bneed AS (SELECT doc_id, count(DISTINCT pos) AS need FROM bipos GROUP BY 1),
         |bhit AS (SELECT p.doc_id, count(DISTINCT p.pos) AS hits
         |        FROM bipos p JOIN setbits sb ON p.pos = sb.pos GROUP BY 1),
         |bseen AS (SELECT n.doc_id, coalesce(h.hits, 0) = n.need AS maybe_seen
         |         FROM bneed n LEFT JOIN bhit h USING (doc_id)),
         |bsx AS (SELECT w.doc_id,
         |         EXISTS (SELECT 1 FROM exw e WHERE e.ntext = w.ntext) AS seen_exact
         |       FROM wet w),
         |gate AS (SELECT w.doc_id, w.url, w.wtext, w.ntext, s.maybe_seen,
         |         x.seen_exact, NOT x.seen_exact AS gate_kept
         |        FROM wet w JOIN bseen s USING (doc_id) JOIN bsx x USING (doc_id)),
         |gsurv AS (SELECT doc_id, ntext AS text FROM gate WHERE gate_kept),
         |${gopherCtes("gsurv")},
         |${clfTrainCtes(3, 0.5, 0.0)},
         |${clfScoreCtes(3, "gsurv", "cp", thr = 1e-6)},
         |qual AS (SELECT gq.doc_id, gq.quality_pass, c.score, c.predicted,
         |         gq.quality_pass = 1 AND c.predicted = 1 AS quality_kept
         |        FROM gq JOIN cpsc c USING (doc_id)),
         |qsurv AS (SELECT g.doc_id, g.text FROM gsurv g
         |  JOIN qual q USING (doc_id) WHERE q.quality_kept),
         |${lmChainCtes("(SELECT ntext AS text FROM exw)", "qsurv", "lm")},
         |lmv AS (SELECT q.doc_id,
         |    coalesce(f.n, 0)::BIGINT AS n_bigrams,
         |    coalesce(f.s, 0)::BIGINT AS lp_micro,
         |    coalesce(f.ppl, -1.0) AS ppl,
         |    coalesce(f.bucket, 'empty') AS lm_bucket,
         |    coalesce(f.bucket, 'empty') <> 'tail' AS lm_kept
         |  FROM qsurv q LEFT JOIN lmfin f USING (doc_id)),
         |lsurv AS (SELECT q.doc_id, q.text FROM qsurv q
         |  JOIN lmv USING (doc_id) WHERE lmv.lm_kept),
         |ek AS (SELECT doc_id, text,
         |  min(doc_id) OVER (PARTITION BY text) AS keep_id FROM lsurv),
         |exact AS (SELECT doc_id, doc_id = keep_id AS exact_kept FROM ek),
         |esurv AS (SELECT doc_id, text FROM ek WHERE doc_id = keep_id),
         |spt AS (SELECT doc_id, $toksExpr AS toks FROM esurv),
         |sptok AS (SELECT doc_id, unnest(range(len(toks))) AS pos, toks
         |  FROM spt WHERE len(toks) > 0),
         |sptk AS (SELECT doc_id, pos, toks[pos + 1] AS token FROM sptok),
         |spso AS (SELECT doc_id, unnest(range(len(toks) - 4)) AS start, toks
         |  FROM spt WHERE len(toks) >= 5),
         |spsh AS (SELECT doc_id, start, array_to_string(
         |    list_slice(toks, start + 1, start + 5), ' ') AS shingle FROM spso),
         |sprnk AS (SELECT doc_id, start,
         |    row_number() OVER (PARTITION BY shingle
         |      ORDER BY doc_id, start) AS rn,
         |    count(*) OVER (PARTITION BY shingle) AS cnt FROM spsh),
         |sprem AS (SELECT doc_id, start FROM sprnk WHERE cnt >= 2 AND rn > 1),
         |sprpos AS (SELECT DISTINCT doc_id, pos FROM (
         |  SELECT doc_id, unnest(generate_series(start, start + 4)) AS pos
         |  FROM sprem)),
         |spkept AS (SELECT sptk.doc_id, sptk.pos, sptk.token FROM sptk
         |  ANTI JOIN sprpos ON sptk.doc_id = sprpos.doc_id AND sptk.pos = sprpos.pos),
         |spreb AS (SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS txt,
         |    count(*) AS kept FROM spkept GROUP BY 1),
         |spout AS (SELECT e.doc_id, coalesce(r.txt, '') AS text,
         |    coalesce(r.kept, 0)::BIGINT AS n_kept
         |  FROM esurv e LEFT JOIN spreb r USING (doc_id)),
         |mu AS (SELECT doc_id, doc_id * 10 AS ts, ntext AS text,
         |         0 AS side, FALSE AS del FROM exw
         |  UNION ALL SELECT doc_id, doc_id * 10 + 5 AS ts, text,
         |         1 AS side, FALSE AS del FROM spout
         |  UNION ALL SELECT doc_id, doc_id * 10 + 9 AS ts, '' AS text,
         |         1 AS side, TRUE AS del
         |    FROM documents WHERE doc_id % 20 = 2),
         |mw AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY ts DESC, side DESC, del DESC, text DESC) AS rn,
         |        max(CASE WHEN side = 0 THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id) AS hadcur
         |      FROM mu),
         |merged AS (SELECT doc_id,
         |  CASE WHEN hadcur = 0 THEN 'inserted'
         |       WHEN side = 1 THEN 'updated' ELSE 'kept' END AS verdict
         |  FROM mw WHERE rn = 1 AND NOT del),
         |shardt AS (SELECT doc_id, row_number() OVER (ORDER BY
         |    ${hash56("'gs2:' || doc_id::VARCHAR")}, doc_id) - 1 AS gp
         |  FROM merged)
         |SELECT g.doc_id, g.url, md5(g.wtext) AS wet_hash,
         |  md5(g.ntext) AS norm_hash,
         |  g.maybe_seen, g.seen_exact, g.gate_kept,
         |  coalesce(q.quality_pass, -1)::BIGINT AS quality_pass,
         |  coalesce(q.score, -1.0) AS score,
         |  coalesce(q.predicted, -1)::INT AS predicted,
         |  coalesce(q.quality_kept, FALSE) AS quality_kept,
         |  coalesce(l.n_bigrams, -1)::BIGINT AS n_bigrams,
         |  coalesce(l.lp_micro, 0)::BIGINT AS lp_micro,
         |  coalesce(l.ppl, -1.0) AS ppl,
         |  coalesce(l.lm_bucket, '') AS lm_bucket,
         |  coalesce(l.lm_kept, FALSE) AS lm_kept,
         |  coalesce(x.exact_kept, FALSE) AS exact_kept,
         |  coalesce(sp.n_kept, -1)::BIGINT AS n_kept,
         |  coalesce(md5(sp.text), '') AS span_hash,
         |  coalesce(m.verdict, '') AS verdict,
         |  coalesce(s.gp % 8, -1)::BIGINT AS shard,
         |  coalesce(s.gp // 8, -1)::BIGINT AS pos
         |FROM gate g
         |LEFT JOIN qual q USING (doc_id)
         |LEFT JOIN lmv l USING (doc_id)
         |LEFT JOIN exact x USING (doc_id)
         |LEFT JOIN spout sp USING (doc_id)
         |LEFT JOIN merged m USING (doc_id)
         |LEFT JOIN shardt s USING (doc_id)
         |ORDER BY g.doc_id""".stripMargin
  )
}
