package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Distributed suffix ranking by prefix doubling (Manber–Myers over a
  * document corpus) — the suffix-array strategy behind exact
  * substring-level dedup (Lee et al. 2022 "Deduplicating Training
  * Data Makes Language Models Better" builds exactly this structure;
  * [[graft.text.Rewrite]]'s spanDedup covers the dedup SEMANTICS with
  * a sliding-window form — this operator is the scalable SA-ranking
  * strategy itself, exposed because downstream tooling wants the
  * global suffix order: maximal-repeat mining, LCP statistics,
  * substring search layout).
  *
  * Algorithm: every token position starts with the rows-before rank
  * of its token (one distinct-histogram [[PrefixSum]] pass); each
  * round h = 1, 2, 4, … re-keys position p by the pair
  * (rank(p), rank(p+h)) — rank −1 past the suffix end, so shorter
  * suffixes sort first, matching lexicographic order — and re-ranks
  * the pairs with one composite-key [[PrefixSum]] pass. After
  * ⌈log₂(max doc length)⌉ rounds every rank covers its whole suffix;
  * positions whose suffixes are genuinely EQUAL (cross-document
  * repeats) share a rank forever, so the loop exits on
  * max-multiplicity 1 OR the length bound, never spins on ties.
  *
  * Scale shape: suffixes never cross documents, so rounds are
  * log(max DOC length), not log(corpus); each round is one
  * equi-join on (doc, pos+h) + one bounded-histogram prefix sum —
  * no corpus-wide single-partition window, no driver-side state but
  * two scalar convergence reads. Rank frames are localCheckpoint'ed
  * per round (each is referenced twice the next round — the
  * iterative-lineage guard).
  *
  * Output: (doc_id, pos, suffix_rank) — suffix_rank is the 0-based
  * count of corpus suffixes strictly smaller than the suffix starting
  * at (doc_id, pos); equal suffixes share a rank (the DuckDB oracle
  * replays it as `rank() OVER (ORDER BY suffix_text) - 1`).
  */
object SuffixRank {

  def suffixRanks(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numParts: Int = 0): DataFrame = {
    val positions = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__tok")))
      .localCheckpoint()

    // base: rank positions by token (rows-before over the vocab histogram)
    val tokHist = positions.groupBy("__tok").agg(count(lit(1)).as("__c"))
    val tokRank = PrefixSum.rowsBefore(tokHist, "__tok", numParts)
      .select(col("__tok"), col("__rb"))
    var ranks = positions.join(tokRank, Seq("__tok"))
      .select(col("doc_id"), col("pos"), col("__rb").as("__rank"))
      .localCheckpoint()

    val maxLenRow = positions.groupBy("doc_id").agg(count(lit(1)).as("__n"))
      .agg(max("__n")).collect()(0)
    val maxLen = if (maxLenRow.isNullAt(0)) 0L else maxLenRow.getLong(0)
    var h = 1L
    var maxMult = Long.MaxValue
    while (h < maxLen && maxMult > 1L) {
      // rank(p + h), seen from p; -1 past the suffix end (sorts first:
      // the shorter-suffix-is-prefix case)
      val shifted = ranks.select(col("doc_id"), (col("pos") - h).as("pos"),
        col("__rank").as("__r2"))
      val keyed = ranks.join(shifted, Seq("doc_id", "pos"), "left")
        .withColumn("__r2", coalesce(col("__r2"), lit(-1L)))
      val pairHist = keyed.groupBy("__rank", "__r2").agg(count(lit(1)).as("__c"))
      // new_rank = old_rank + same-rank rows with smaller __r2 (the
      // rank IS its rows-before count — see the telescoping note in
      // suffixArrayWithLcpAndLevels); one histogram window replaces
      // the two-level prefix sum per round
      val wPair = org.apache.spark.sql.expressions.Window
        .partitionBy("__rank").orderBy("__r2")
        .rowsBetween(Long.MinValue, -1)
      val pairRank = pairHist.withColumn("__rb",
        col("__rank") + coalesce(sum("__c").over(wPair), lit(0L)))
      val next = keyed.join(pairRank, Seq("__rank", "__r2"))
        .select(col("doc_id"), col("pos"), col("__rb").as("__rank"),
          col("__c"))
        .localCheckpoint()
      maxMult = next.agg(max("__c")).collect()(0).getLong(0)
      ranks = next.drop("__c")
      h *= 2L
    }
    ranks.select(col("doc_id"), col("pos"), col("__rank").as("suffix_rank"))
      .orderBy("doc_id", "pos")
  }

  /** [[suffixRanks]] DERIVED from a prebuilt [[suffixArrayWithLcp]]
    * artifact — the build-once/fan-out path (the repeatMarksFromSa
    * lifecycle): ranks-with-ties collapse out of the SA exactly,
    * because two ADJACENT suffixes in seq order are identical iff
    * `lcp_prev` equals BOTH remaining lengths (the capped LCP reaches
    * a suffix's end only when the whole suffix matches), so tie runs
    * are maximal chains of that predicate and every member takes the
    * run head's `seq` as its rank. One rows-before pass numbers the
    * run heads; no doubling chain re-run. SuffixRankSpec pins equality
    * with the standalone [[suffixRanks]]. */
  def ranksFromSa(
      sa: DataFrame,
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numParts: Int = 0): DataFrame = {
    val docLen = docs.select(col(idCol).cast("long").as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("__n"))
    val withRem = sa.join(docLen, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("seq"), col("lcp_prev"),
        (col("__n") - col("pos")).as("__rem"))
    val prev = withRem.select((col("seq") + 1L).as("seq"),
      col("__rem").as("__prevRem"))
    val flagged = withRem.join(prev, Seq("seq"), "left")
      .withColumn("__c",
        when(col("__prevRem").isNotNull &&
          col("lcp_prev") === col("__rem") &&
          col("__prevRem") === col("__rem"), 0L).otherwise(1L))
    val grp = PrefixSum.rowsBefore(flagged, "seq", numParts)
      .withColumn("__g", col("__rb") + col("__c"))
    val heads = grp.groupBy("__g").agg(min("seq").as("suffix_rank"))
    grp.join(heads, Seq("__g"))
      .select(col("doc_id"), col("pos"), col("suffix_rank"))
      .orderBy("doc_id", "pos")
  }

  /** Suffix array WITH the LCP column — the structure Lee et al. '22's
    * exact substring dedup thresholds on (a repeat of length >= L
    * exists wherever lcp_prev >= L). Output one row per token
    * position: `seq` is the position's 0-based index in the global
    * suffix order (ties broken by (doc_id, pos) — a deterministic
    * total order both engines replay), and `lcp_prev` the length in
    * tokens of the longest common prefix with the seq−1 suffix (0 for
    * seq 0).
    *
    * Build: the doubling chain retains one positions-sized frame per
    * level (LCP descent needs level k to discriminate exactly
    * prefixes of length 2^k), then the classic sparse-table descent:
    * for k from high to low, if the level-k ranks at (pos + lcp)
    * agree on both sides, the common prefix extends by 2^k.
    *
    * RETENTION CONTRACT (the sparse-table tradeoff, measured and
    * bounded rather than hidden): the descent needs one rank frame
    * per level, and levels stop at the corpus's TRUE repeat structure
    * (ceil(log2(longest repeated span)) + 1, the early-exit below) —
    * NOT log(max doc length). WHERE those frames park is
    * `spark.graft.sa.levelStorage`:
    *
    *  - `memory` (default, the fast path): localCheckpoint blocks,
    *    O(n x levels) block-manager retention, guarded by
    *    `spark.graft.sa.maxRetainedLevels` (default 24 — a 16M-token
    *    repeated span) so an adversarial corpus of full-document
    *    duplicates (longest tie = doc length; SuffixRankSpec probes
    *    exactly that) fails fast instead of silently holding an
    *    unbounded frame list.
    *  - `disk`: every level spills to scratch parquet
    *    (`spark.graft.sa.scratchDir`, default java.io.tmpdir; point
    *    it at shared scratch on a cluster) and is read back once
    *    during its descent step, then deleted. Peak block-manager
    *    retention drops to O(n) — one chain frame, the pairs frame,
    *    one level in flight — and the O(n log n) sparse table becomes
    *    scratch-disk bytes, the cheap resource at 100 TB. Outputs are
    *    bitwise identical to the memory path (SuffixRankSpec pins
    *    it); the cost is one parquet write + read per level.
    *
    * Exact O(n)-EVERYTHING alternatives were weighed and rejected:
    * rolling-hash binary search drops bitwise exactness (hash
    * equality is probabilistic), Kasai's descent is inherently
    * sequential, and the Flick-Aluru split-round LCP needs a
    * distributed RMQ over the in-flight LCP array — a sparse table
    * again. [[graft.text.Rewrite]]'s spanDedup remains the CHEAP
    * dedup path; this is the exact-order structure for repeat
    * mining / LCP statistics. */
  def suffixArrayWithLcp(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numParts: Int = 0): DataFrame =
    suffixArrayWithLcpAndLevels(docs, textCol, idCol, numParts)._1

  /** Conf key bounding the retained doubling-chain levels (each one
    * positions-sized); 24 levels = a 16M-token repeated span. Applies
    * to the MEMORY level store only — the disk store's levels are
    * scratch files, not block-manager residents. */
  val MaxRetainedLevelsKey = "spark.graft.sa.maxRetainedLevels"
  val MaxRetainedLevelsDefault = 24

  /** Conf key selecting where the doubling chain's level frames live
    * between build and descent: `memory` (default — localCheckpoint
    * blocks, the fast path, guarded by [[MaxRetainedLevelsKey]]) or
    * `disk` (each level spills to scratch parquet and is read back
    * once during its descent step, then deleted — peak
    * block-manager retention drops to O(n): the chain frame, the
    * pairs frame, and ONE level in flight; the O(n log n) sparse
    * table becomes scratch-disk bytes, the cheap resource at scale).
    * Outputs are bitwise identical either way (SuffixRankSpec pins
    * it): the store changes where a deterministic artifact parks,
    * never its values. */
  val LevelStorageKey = "spark.graft.sa.levelStorage"

  /** Conf key for the disk store's scratch root (a per-build UUID
    * subdirectory is created beneath it and removed after the
    * descent); defaults to java.io.tmpdir. On a cluster point it at
    * shared scratch storage. */
  val ScratchDirKey = "spark.graft.sa.scratchDir"

  /** Where the doubling chain parks level frames between build and
    * descent: memory (localCheckpoint, guarded) or scratch parquet
    * (O(n) block-manager peak). `put` receives the round's
    * CHECKPOINTED frame in build order (a projection would hide the
    * checkpoint from the release path); `levels` lists coarsest-first
    * (doc_id, pos, __rank) thunks for the descent; `release` frees
    * one level after its descent step; `close` removes whatever is
    * left. */
  private sealed trait LevelStore {
    def put(span: Long, cp: DataFrame): Unit
    def levels: List[(Long, () => DataFrame)]
    def release(span: Long): Unit
    def close(): Unit
  }

  private val levelCols = Seq("doc_id", "pos", "__rank")

  private final class MemoryLevelStore extends LevelStore {
    private var frames = List.empty[(Long, DataFrame)] // head = coarsest
    def put(span: Long, cp: DataFrame): Unit = frames ::= (span, cp)
    def levels: List[(Long, () => DataFrame)] =
      frames.map { case (s, f) =>
        (s, () => f.select(levelCols.map(col): _*)) }
    def release(span: Long): Unit =
      frames.find(_._1 == span).foreach { case (_, f) =>
        org.apache.spark.sql.graftbridge.ColumnBridge
          .unpersistLocalCheckpoint(f) }
    def close(): Unit = ()
  }

  private final class DiskLevelStore(spark: org.apache.spark.sql.SparkSession)
      extends LevelStore {
    private val root = {
      val base = spark.conf.get(ScratchDirKey,
        System.getProperty("java.io.tmpdir"))
      // advice r12: the scratch default is DRIVER-LOCAL java.io.tmpdir.
      // On a multi-executor cluster each executor would write its part
      // files to its own local filesystem and the descent read-back
      // would find an empty directory only AFTER the expensive build —
      // fail fast at store creation instead. An EXPLICIT scratch path
      // on a cluster is accepted (it may genuinely be shared NFS/
      // FUSE-mounted object storage — indistinguishable from local by
      // probing the driver alone) with a logged warning of the
      // must-be-shared contract.
      val master = spark.sparkContext.master
      val isLocalMaster = master.startsWith("local")
      if (!isLocalMaster) {
        require(spark.conf.getOption(ScratchDirKey).isDefined,
          s"$LevelStorageKey=disk with the default scratch root " +
            s"(driver-local java.io.tmpdir) cannot work on a " +
            s"multi-executor cluster (master=$master): executors write " +
            "level part files to their own local filesystems and the " +
            s"descent read-back misses them. Point $ScratchDirKey at " +
            "scratch storage shared by the driver and every executor")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$LevelStorageKey=disk on master=$master: $ScratchDirKey=" +
            s"$base must be readable and writable from the driver and " +
            "EVERY executor (shared NFS / object store)")
      }
      val d = new java.io.File(base,
        s"graft-sa-levels-${java.util.UUID.randomUUID()}")
      require(d.mkdirs(), s"cannot create SA scratch dir $d")
      d
    }
    private var paths = List.empty[(Long, java.io.File)] // head = coarsest
    def put(span: Long, cp: DataFrame): Unit = {
      val p = new java.io.File(root, s"level-$span")
      cp.select(levelCols.map(col): _*)
        .write.mode("overwrite").parquet(p.toString)
      paths ::= (span, p)
    }
    def levels: List[(Long, () => DataFrame)] =
      paths.map { case (s, p) => (s, () => spark.read.parquet(p.toString)) }
    def release(span: Long): Unit = {
      paths.filter(_._1 == span).foreach(p => deleteRec(p._2))
      paths = paths.filterNot(_._1 == span)
    }
    def close(): Unit = deleteRec(root)
    private def deleteRec(f: java.io.File): Unit = {
      val fs = f.listFiles()
      if (fs != null) fs.foreach(deleteRec)
      f.delete(): Unit
    }
  }

  /** RDD ids of the localCheckpoints created by the most recent
    * [[suffixArrayWithLcpAndLevels]] build ON THIS THREAD — the
    * deterministic handle for SuffixRankSpec's O(n)-retention probe:
    * intersecting these ids with `getPersistentRDDs` counts only the
    * frames THIS build parked, immune to concurrent suites'
    * checkpoints inflating the context-global registry (the round-12
    * flaky-gate fix). Thread-local: builds are driver-thread-confined
    * and parallel suites each see their own build's ids. */
  private[graft] val lastBuildCheckpointIds =
    new ThreadLocal[scala.collection.mutable.Set[Int]] {
      override def initialValue(): scala.collection.mutable.Set[Int] =
        scala.collection.mutable.Set.empty[Int]
    }

  /** localCheckpoint + record the backing RDD id for the retention
    * probe. */
  private def trackedCp(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    org.apache.spark.sql.graftbridge.ColumnBridge.checkpointRddId(c)
      .foreach(lastBuildCheckpointIds.get += _)
    c
  }

  /** [[suffixArrayWithLcp]] + the retained-level count, so tests and
    * capacity planning can assert the retention contract directly. */
  private[graft] def suffixArrayWithLcpAndLevels(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      numParts: Int = 0): (DataFrame, Int) = {
    lastBuildCheckpointIds.get.clear()
    val positions = trackedCp(docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "__tok"))))
    val tokHist = positions.groupBy("__tok").agg(count(lit(1)).as("__c"))
    val tokRank = PrefixSum.rowsBefore(tokHist, "__tok", numParts)
      .select(col("__tok"), col("__rb"))
    var ranks = trackedCp(positions.join(tokRank, Seq("__tok"))
      .select(col("doc_id"), col("pos"), col("__rb").as("__rank")))

    // levels(k) discriminates prefixes of length exactly 2^k. The
    // chain may stop BEFORE maxLen once every still-tied position's
    // remaining suffix fits inside the new span s: ties at span s that
    // are length-capped are IDENTICAL suffixes (content equal to their
    // end), which the descent's sum-of-all-spans + length cap already
    // represents exactly, and any non-tied pair disagrees within s, so
    // its lcp < s <= 2s-1 = the descent's representable range. This
    // bounds retained levels by the corpus's true repeat structure
    // (log of the longest repeat), not log(max doc length) — the
    // sparse-table memory economy, and fewer build+descent rounds.
    // The exit statistic (longest remaining suffix among still-tied
    // positions) reads off a carried __rem column — one scalar agg
    // over the round's already-checkpointed frame, no join — and the
    // first rounds skip it (an exit at spans < 8 is a corpus with no
    // 4-token repeat; not worth three collect jobs to detect).
    // CORRECTION (round 16, probed): the r15 claim that this
    // checkpoint "preserves partitioning and ordering" does not hold
    // under AQE (the bench default) — localCheckpoint materializes
    // through AdaptiveSparkPlanExec and the LogicalRDD reports
    // UnknownPartitioning / no ordering, so every round's self-join
    // exchanges and sorts both sides regardless. The r15
    // sortWithinPartitions here was therefore dead work and is
    // removed. Partitioning cannot affect values (rows-before ranks
    // are partitioning-independent by the PrefixSum contract).
    val docLen0 = positions.groupBy("doc_id").agg(count(lit(1)).as("__n"))
    var remRanks = trackedCp(ranks.join(docLen0, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("__rank"),
        (col("__n") - col("pos")).as("__rem")))
    // max doc length read off the just-checkpointed frame (pos 0 rows
    // carry __rem = doc length) instead of a second corpus-wide
    // groupBy over positions
    val maxLenRow = remRanks.agg(max("__rem")).collect()(0)
    val maxLen = if (maxLenRow.isNullAt(0)) 0L else maxLenRow.getLong(0)
    // the per-doc length table for the final LCP cap — lazy off the
    // retained positions checkpoint (the chain frames are freed during
    // the build, so they cannot back it)
    val docLen = docLen0
    val maxLevels = docs.sparkSession.conf
      .get(MaxRetainedLevelsKey, MaxRetainedLevelsDefault.toString).toInt
    require(maxLevels >= 1, s"$MaxRetainedLevelsKey must be >= 1")
    val storageMode = docs.sparkSession.conf.get(LevelStorageKey, "memory")
    val store: LevelStore = storageMode match {
      case "memory" => new MemoryLevelStore
      case "disk" => new DiskLevelStore(docs.sparkSession)
      case other => throw new IllegalArgumentException(
        s"$LevelStorageKey must be 'memory' or 'disk', got '$other'")
    }
    val diskMode = storageMode == "disk"
    // a failed job must not leak the scratch directory: any throw
    // between store creation and the normal close removes it first
    def cleanOnError[T](f: => T): T =
      try f catch { case e: Throwable => store.close(); throw e }
    val free = org.apache.spark.sql.graftbridge.ColumnBridge
      .unpersistLocalCheckpoint(_)
    val baseRanks = ranks
    var totalLevels = 1
    // store remRanks as the span-1 level (identical levelCols values
    // to the base frame): the base frame — previously retained through
    // the whole build+descent as the stored level — frees as soon as
    // remRanks is materialized, dropping one positions-sized resident
    // from the memory store's peak
    cleanOnError(store.put(1L, remRanks))
    free(baseRanks)
    // the chain's one resident checkpoint in disk mode (the previous
    // round's frame dies once the next is checkpointed — its level
    // copy is already on scratch parquet)
    var chainCp = remRanks
    var h = 1L
    var tiedDone = false
    while (h < maxLen && !tiedDone) cleanOnError {
      // the guard protects block-manager RETENTION, so it applies to
      // the memory store only; disk levels are scratch files
      if (!diskMode && totalLevels >= maxLevels)
        throw new IllegalStateException(
          s"suffixArrayWithLcp would retain more than $maxLevels " +
            s"positions-sized level frames (repeated spans past " +
            s"2^$maxLevels tokens); raise $MaxRetainedLevelsKey if the " +
            s"cluster has the memory, set $LevelStorageKey=disk to " +
            "spill the sparse table to scratch parquet, or pre-cut " +
            "pathological repeats (Rewrite.spanDedup) before building " +
            "the suffix array")
      val shifted = remRanks.select(col("doc_id"), (col("pos") - h).as("pos"),
        col("__rank").as("__r2"))
      // the round's (rank, rank+h) keying is consumed THREE times
      // (the histogram's range-partition sampling pass, the histogram
      // checkpoint, and the re-ranked next frame) — checkpoint it once
      // so the positions-sized self-join runs once per round, and free
      // it as soon as the next frame is materialized. Retention note
      // for capacity planning: this adds ONE transient positions-sized
      // block-manager resident per round (alive between this
      // checkpoint and the free(keyed) below) ON TOP of the documented
      // steady-state contract (chain frame + pairs frame + one level
      // in disk mode; the level list in memory mode)
      val keyed = trackedCp(remRanks.join(shifted, Seq("doc_id", "pos"), "left")
        .withColumn("__r2", coalesce(col("__r2"), lit(-1L))))
      val pairHist = keyed.groupBy("__rank", "__r2").agg(count(lit(1)).as("__c"))
      // RERANK WITHOUT the two-level prefix sum (round 16): a rank IS
      // its rows-before count, so every position whose pair key is
      // lex-smaller on the first component is already counted by the
      // old rank VALUE, and the new rank telescopes to
      //   new_rank = old_rank + (rows of the SAME old rank with
      //                          strictly smaller __r2)
      // — one histogram window partitioned by __rank (group size =
      // distinct continuations of one prefix class, never corpus-wide)
      // in place of PrefixSum's range-sampling pass + eager histogram
      // checkpoint + offsets broadcast, i.e. ~2 fewer driver-blocking
      // jobs per doubling round. Values identical by the rows-before
      // definition (ties share both terms); the histogram window is
      // hash-partitioned and deterministic, so the advice-r8
      // range-seed hazard does not apply here at all.
      val wPair = org.apache.spark.sql.expressions.Window
        .partitionBy("__rank").orderBy("__r2")
        .rowsBetween(Long.MinValue, -1)
      val pairRank = pairHist.withColumn("__rb",
        col("__rank") + coalesce(sum("__c").over(wPair), lit(0L)))
      // NOTE (round 16, measured): re-keying this frame by doc_id
      // before the checkpoint was tried and REVERTED — with AQE on
      // (the bench default) localCheckpoint materializes through
      // AdaptiveSparkPlanExec and the LogicalRDD comes back with
      // UnknownPartitioning and no ordering (probe: a repartitioned+
      // sorted localCheckpoint reports UnknownPartitioning(0)), so the
      // extra exchange is never reused by the next round or the
      // descent, whose joins exchange the level side as well as the
      // re-keyed pairs side.
      val next = trackedCp(keyed.join(pairRank, Seq("__rank", "__r2"))
        .select(col("doc_id"), col("pos"), col("__rb").as("__rank"),
          col("__rem"), col("__c")))
      free(keyed)
      h *= 2L
      store.put(h, next) // head = coarsest
      totalLevels += 1
      remRanks = next.drop("__c")
      // The memory store's chain frames ARE its level entries —
      // released during the descent instead.
      if (diskMode) { free(chainCp); if (h == 2L) free(baseRanks) }
      chainCp = next
      if (h >= 8L && h < maxLen) {
        val tiedRow = next
          .agg(max(when(col("__c") >= 2L, col("__rem")))).collect()(0)
        tiedDone = tiedRow.isNullAt(0) || tiedRow.getLong(0) <= h
      }
    }
    ranks = remRanks.select("doc_id", "pos", "__rank")

    // global suffix order: rows-before over the UNIQUE (rank, doc,
    // pos) triples = a dense 0-based suffix-array index. Same
    // telescoping as the round rerank (the rank is its own
    // rows-before count and keys are unique), so
    //   seq = __rank + row_number within the rank's tie group − 1
    // — one window partitioned by __rank (group = one set of
    // identical suffixes, almost always a handful of rows) instead of
    // the two-level prefix sum's sampling pass + checkpoint +
    // offsets broadcast over the positions-sized unique-triple table.
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("__rank").orderBy("doc_id", "pos")
    val seqed = trackedCp(ranks
      .withColumn("seq",
        col("__rank") + row_number().over(wSeq).cast("long") - lit(1L))
      .select(col("doc_id"), col("pos"), col("seq")))
    // with seq checkpointed the final chain frame is dead too; in disk
    // mode its level copy lives on scratch parquet for the descent
    // (freeing twice is a no-op, so the no-round corpus is safe)
    if (diskMode) { free(chainCp); free(baseRanks) }

    // adjacent pairs in suffix order, then the sparse-table descent
    val succ = seqed.select(col("doc_id").as("__da"), col("pos").as("__pa"),
      (col("seq") + 1L).as("seq"))
    var pairs = trackedCp(seqed.join(succ, Seq("seq"))
      .select(col("seq"), col("__da"), col("__pa"),
        col("doc_id").as("__db"), col("pos").as("__pb"))
      .withColumn("__lcp", lit(0L)))
    cleanOnError(store.levels.foreach { case (span, lvlThunk) =>
      val lvl = lvlThunk()
      val prevPairs = pairs
      val la = lvl.select(col("doc_id").as("__da"),
        col("pos").as("__ja"), col("__rank").as("__rka"))
      val lb = lvl.select(col("doc_id").as("__db"),
        col("pos").as("__jb"), col("__rank").as("__rkb"))
      val stepped = pairs
        .withColumn("__ja", col("__pa") + col("__lcp"))
        .withColumn("__jb", col("__pb") + col("__lcp"))
        .join(la, Seq("__da", "__ja"), "left")
        .join(lb, Seq("__db", "__jb"), "left")
        .withColumn("__lcp",
          when(col("__rka").isNotNull && col("__rkb").isNotNull &&
            col("__rka") === col("__rkb"), col("__lcp") + span)
            .otherwise(col("__lcp")))
        .select("seq", "__da", "__pa", "__db", "__pb", "__lcp")
      pairs = trackedCp(stepped)
      // the eager checkpoint above cut the new pairs' lineage from
      // both this level and the previous pairs frame: free them
      // (disk: delete the scratch files; memory: unpersist)
      free(prevPairs)
      store.release(span)
    })
    store.close()
    // identical suffixes agree at EVERY retained level (content + end
    // markers), so the descent reaches at least their length before
    // the cap — the true LCP of identical suffixes is their length;
    // capping at both remaining lengths is exact (every non-identical
    // case is already <= the min length)
    val lcpOfSeq = pairs
      .join(docLen.select(col("doc_id").as("__da"), col("__n").as("__na")),
        Seq("__da"))
      .join(docLen.select(col("doc_id").as("__db"), col("__n").as("__nb")),
        Seq("__db"))
      .select(col("seq"),
        least(col("__lcp"), col("__na") - col("__pa"),
          col("__nb") - col("__pb")).as("lcp_prev"))
    (seqed.join(lcpOfSeq, Seq("seq"), "left")
      .select(col("doc_id"), col("pos"), col("seq"),
        coalesce(col("lcp_prev"), lit(0L)).as("lcp_prev"))
      .orderBy("doc_id", "pos"),
      totalLevels)
  }

  /** Exact repeated-substring marks — the Lee et al. '22 threshold
    * surface read straight off the LCP column: position p starts a
    * length-`minLen` substring that occurs elsewhere in the corpus iff
    * its suffix shares a >= minLen prefix with a RANK-NEIGHBOR (all
    * suffixes with a common L-prefix are contiguous in suffix order,
    * so membership in a >= 2 block shows up as lcp_prev >= L on the
    * position itself or on its successor). Positions with fewer than
    * minLen tokens remaining are never marked (the capped LCP makes
    * that automatic). The marks are the input to substring-level
    * dedup cuts; [[graft.text.Rewrite]]'s spanDedup computes the same
    * surface with sliding window hashes — SuffixRankSpec cross-checks
    * the two derivations.
    *
    * Output: (doc_id, pos, is_repeat). */
  def repeatMarks(
      docs: DataFrame,
      minLen: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      numParts: Int = 0): DataFrame =
    repeatMarksFromSa(
      suffixArrayWithLcp(docs, textCol, idCol, numParts), minLen)

  /** [[repeatMarks]] over a PREBUILT (ideally persisted)
    * [[suffixArrayWithLcp]] frame — the SA is the expensive artifact;
    * build it once and fan out repeat mining, LCP statistics, and the
    * span cut ([[graft.text.Rewrite.spanDedupSAFromSa]]) against one
    * materialization (the Bm25Index lifecycle). */
  def repeatMarksFromSa(sa: DataFrame, minLen: Int): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val nxt = sa.select((col("seq") - 1L).as("seq"),
      col("lcp_prev").as("__lcpNext"))
    sa.join(nxt, Seq("seq"), "left")
      .select(col("doc_id"), col("pos"),
        (col("lcp_prev") >= minLen ||
          coalesce(col("__lcpNext"), lit(0L)) >= minLen).as("is_repeat"))
      .orderBy("doc_id", "pos")
  }
}
