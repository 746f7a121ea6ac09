package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.stats.Quantiles
import graft.text.CorpusOps

/** Decade probes for the round-8 profiling/layout operators: the text
  * family probes at 50k docs and the vector family at 100k vectors
  * (SURVEY §5); this runs the quantile and epoch-shard machinery one
  * decade above sf0.1's lineitem (6M rows — sf0.1 x10, price-rotated
  * replicas so the value histogram genuinely widens), validating with
  * DISTRIBUTED invariants rather than driver-side sorts: exact
  * order-statistic bounds for every quantile cut, and the permutation/
  * balance laws for the shard assignment.
  */
class LayoutProbeSpec extends AnyFunSuite with SparkSpec {

  // 6M rows: 10 replicas of sf0.1's lineitem with cents rotated by a
  // prime per replica (the panel decade-probe recipe) — values stay
  // exact 2-decimal fixed-point but the distinct histogram shifts
  private lazy val probe = {
    val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val reps = spark.range(0, 10).select(col("id").as("k"))
    base.crossJoin(reps)
      .select(
        (col("l_orderkey") * 10 + col("k")).as("rid"),
        (round(col("l_extendedprice") * 100)
          .cast("long").+(col("k") * lit(9973L)).cast("double") / 100.0)
          .as("v"))
  }

  test("binPack compaction: fewer files, lossless rows, pruning preserved, big files byte-copied") {
    import spark.implicits._
    import graft.operators.{Compact, Zorder}
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(20000)((rnd.nextInt(1024).toLong,
      rnd.nextInt(1024).toLong)).toDF("a", "b")
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    Zorder.clusterBy(rows, Seq("a", "b"), bits = 10, numFiles = 64)
      .write.mode("overwrite").parquet(s"$base/in")

    def filesTouched(dir: String, loA: Long, hiA: Long,
        loB: Long, hiB: Long): (Long, Long) = {
      val perFile = spark.read.parquet(dir)
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(min("a").as("loA"), max("a").as("hiA"),
          min("b").as("loB"), max("b").as("hiB"))
        .collect()
      (perFile.count(r =>
        r.getAs[Long]("hiA") >= loA && r.getAs[Long]("loA") <= hiA &&
          r.getAs[Long]("hiB") >= loB && r.getAs[Long]("loB") <= hiB).toLong,
        perFile.length.toLong)
    }

    // target ~8 input files per bin
    val inBytes = new java.io.File(s"$base/in").listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.length()).sum
    val rep = Compact.binPack(spark, s"$base/in", s"$base/out",
      targetBytes = inBytes / 8 + 1)
    assert(rep.nFilesBefore === 64L)
    assert(rep.nFilesAfter < rep.nFilesBefore / 4,
      s"expected ~8x fewer files, got ${rep.nFilesAfter}")
    assert(rep.nBinsRewritten === rep.nFilesAfter && rep.nFilesCopied === 0L)

    // value losslessness — the compaction contract
    val before = spark.read.parquet(s"$base/in").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val after = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after === before)

    // pruning preserved: contiguous bins merge ADJACENT z-ranges, so
    // a box query touches no MORE files than before (merging can only
    // fuse touched neighbors; +1 hull slack for a bin whose per-dim
    // bounding box grows past its members'), while the hash-mix
    // control at the same file count spreads every key range over
    // every file and prunes nothing — the failure mode contiguous
    // bin-packing exists to avoid
    val (tIn, nIn) = filesTouched(s"$base/in", 256, 383, 256, 383)
    val (tOut, nOut) = filesTouched(s"$base/out", 256, 383, 256, 383)
    assert(nIn === 64L && nOut === rep.nFilesAfter)
    assert(tOut <= tIn + 1,
      s"compaction touched more files: $tIn of $nIn -> $tOut of $nOut")
    spark.read.parquet(s"$base/in").repartition(rep.nFilesAfter.toInt)
      .write.mode("overwrite").parquet(s"$base/ctl")
    val (tCtl, nCtl) = filesTouched(s"$base/ctl", 256, 383, 256, 383)
    assert(tCtl >= nCtl - 1,
      s"hash-mix control unexpectedly pruned: $tCtl of $nCtl")
    assert(tOut.toDouble / nOut < tCtl.toDouble / nCtl,
      s"contiguous bins must out-prune the mixed control: " +
        s"$tOut/$nOut vs $tCtl/$nCtl")

    // byte-copy arm: with smallBytes below every file size nothing
    // rewrites — outputs are bit-identical copies in original order
    val rep2 = Compact.binPack(spark, s"$base/in", s"$base/out2",
      targetBytes = inBytes, smallBytes = 1L)
    assert(rep2.nFilesCopied === 64L && rep2.nBinsRewritten === 0L &&
      rep2.nFilesAfter === 64L)
    val inFiles = new java.io.File(s"$base/in").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val outFiles = new java.io.File(s"$base/out2").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    assert(inFiles.length === outFiles.length)
    inFiles.zip(outFiles).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(a.toPath),
        java.nio.file.Files.readAllBytes(b.toPath)),
        s"${a.getName} not byte-identical to ${b.getName}")
    }

    // empty-directory edge
    val emptyDir = java.nio.file.Files
      .createTempDirectory("graft-compact-empty").toString
    val rep3 = Compact.binPack(spark, emptyDir, s"$base/out3",
      targetBytes = 1000L)
    assert(rep3 === Compact.CompactReport(0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("binPack waves: past MaxBinsPerJob the jobs split but global order holds") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-waves").toString
    // 1100 range-ordered tiny files -> ~550 two-file bins: two waves
    (0 until 44000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .repartitionByRange(1100, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(s"$base/in")
    val files = new java.io.File(s"$base/in").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(files.length === 1100)
    // target ~2.5x the average file so bins hold 2 files (a singleton
    // run would byte-copy instead of rewrite)
    val avg = files.map(_.length()).sum / files.length
    val rep = Compact.binPack(spark, s"$base/in", s"$base/out",
      targetBytes = avg * 5 / 2)
    assert(rep.nBinsRewritten > Compact.MaxBinsPerJob,
      s"probe must cross the wave boundary: $rep")
    // losslessness across the wave seam
    val n = spark.read.parquet(s"$base/out").count()
    assert(n === 44000L)
    // global key order preserved: file-name order == key-range order,
    // exactly as in the input layout (min(a) nondecreasing by name)
    val mins = spark.read.parquet(s"$base/out")
      .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
      .agg(min("a").as("lo"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).map(_._2)
    assert(mins.toSeq === mins.sorted.toSeq,
      "wave split reordered the key ranges")
  }

  test("binPackInPlace: manifest commit, large files untouched, every torn state recovers") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-mswap").toString
    // a mixed layout: 3 big files + 12 small ones in one directory
    (0 until 60000).map(i => (i.toLong, (i * 7 % 1024).toLong)).toDF("a", "b")
      .repartition(3).write.mode("overwrite").parquet(s"$base/t")
    (0 until 1200).map(i => (100000L + i, (i * 3 % 1024).toLong))
      .toDF("a", "b").repartition(12).write.mode("append").parquet(s"$base/t")
    val dirF = new java.io.File(s"$base/t")
    def dataFiles() = dirF.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).sortBy(_.getName)
    val sizes = dataFiles().map(_.length()).sorted
    val smallCut = (sizes(11) + sizes(12)) / 2 // between 12th and 13th size
    val bigBefore = dataFiles().filter(_.length() >= smallCut)
      .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
      .toMap
    assert(bigBefore.size === 3)
    val before = spark.read.parquet(s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val rep = Compact.binPackInPlace(spark, s"$base/t",
      targetBytes = smallCut * 6, smallBytes = smallCut)
    // untouched = the 3 big files plus any singleton small runs the
    // interleaved name order produced; nothing is ever copied
    assert(rep.nFilesBefore === 15L && rep.nFilesUntouched >= 3L &&
      rep.nFilesCopied === 0L && rep.nBinsRewritten >= 1L &&
      rep.nFilesAfter < 15L)
    // the big files were not rewritten, copied, or renamed: identical
    // names, identical bytes, in place (the zero-IO large-file arm)
    bigBefore.foreach { case (n, bytes) =>
      val f = new java.io.File(dirF, n)
      assert(f.exists, s"large file $n vanished")
      assert(java.nio.file.Files.readAllBytes(f.toPath).toSeq === bytes,
        s"large file $n was touched")
    }
    // lossless through the manifest reader
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)
    // managed now: the identity g0 AND the committed g1 are retained
    // (round 15 — a reader that resolved g0 an instant before the
    // commit must finish its scan), no scratch left behind
    val manifests = dirF.listFiles()
      .filter(_.getName.startsWith("_GRAFT_MANIFEST-g")).map(_.getName)
    assert(manifests.sorted.toSeq === Seq("_GRAFT_MANIFEST-g000000000",
      "_GRAFT_MANIFEST-g000000001"))
    assert(!new java.io.File(dirF, ".graft-compact-tmp").exists)
    // RETENTION: the rewritten inputs are tombstoned, NOT deleted —
    // every pre-compaction file is still on disk for in-flight
    // readers, so the directory holds old live + new packed files
    assert(dataFiles().length.toLong ===
      15L + rep.nFilesAfter - rep.nFilesUntouched)
    val st1 = Compact.tableState(spark, s"$base/t").get
    assert(st1.live.length.toLong === rep.nFilesAfter)
    assert(st1.dead.length.toLong === 15L - rep.nFilesUntouched)
    assert(Compact.recoverSwap(spark, s"$base/t").startsWith("clean"),
      "tombstoned files are vacuum's, not recovery's")

    // VACUUM past the horizon: commits a generation without the
    // expired tombstones FIRST, then deletes the dead files and the
    // superseded manifests — the directory is now exactly the live set
    val farFuture = System.currentTimeMillis() + (1L << 40)
    val vac = Compact.vacuum(spark, s"$base/t",
      olderThanMillis = 0L, nowMillis = farFuture)
    assert(vac.nDataFilesDeleted === 15L - rep.nFilesUntouched &&
      vac.nManifestsDeleted === 2L && vac.nTombstonesRetained === 0L)
    assert(dataFiles().length.toLong === rep.nFilesAfter)
    assert(dirF.listFiles().filter(_.getName.startsWith("_GRAFT_MANIFEST"))
      .map(_.getName).toSeq === Seq("_GRAFT_MANIFEST-g000000002"))
    // idempotent: nothing left past the horizon
    val vac2 = Compact.vacuum(spark, s"$base/t", 0L, farFuture)
    assert(vac2 === Compact.VacuumReport(0L, 0L, 0L))
    // a horizon in the future deletes nothing (retention honored)
    assert(Compact.vacuum(spark, s"$base/t", Long.MaxValue / 2,
      farFuture) === Compact.VacuumReport(0L, 0L, 0L))
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)

    // a later pass with nothing to pack commits no new generation
    val rep2 = Compact.binPackInPlace(spark, s"$base/t",
      targetBytes = smallCut * 6, smallBytes = 1L)
    assert(rep2.nBinsRewritten === 0L &&
      rep2.nFilesUntouched === rep.nFilesAfter)
    assert(dirF.listFiles().count(_.getName.startsWith("_GRAFT_MANIFEST")) === 1)

    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)

    // torn state 1: crash mid-rewrite (scratch left) — reads serve the
    // committed table; in-place refuses to start; recover sweeps
    fs.mkdirs(hp(s"$base/t/.graft-compact-tmp"))
    intercept[IllegalArgumentException] {
      Compact.binPackInPlace(spark, s"$base/t", targetBytes = 1L << 20)
    }
    assert(Compact.recoverSwap(spark, s"$base/t")
      .contains("deleted rewrite scratch"))

    // torn state 2: crash after a packed file moved in but BEFORE the
    // commit — manifest readers still serve the OLD set exactly
    // (reader isolation), a plain directory read would not
    val donor = dataFiles().head
    val orphan = new java.io.File(dirF, "part-zzzz-orphan-packed.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before,
      "manifest reader must not see the uncommitted file")
    assert(spark.read.parquet(s"$base/t").count() > before.length.toLong,
      "the plain-directory read is the duplicate hazard the manifest exists for")
    intercept[IllegalArgumentException] {
      Compact.binPackInPlace(spark, s"$base/t", targetBytes = 1L << 20)
    }
    assert(Compact.recoverSwap(spark, s"$base/t").contains("outside manifest"))
    assert(!orphan.exists)

    // torn state 3: manifest temp left behind — recover deletes it
    val mtmp = new java.io.File(dirF, "._GRAFT_MANIFEST-g000000009.tmp")
    java.nio.file.Files.write(mtmp.toPath, "junk".getBytes)
    assert(Compact.recoverSwap(spark, s"$base/t").contains("manifest temp"))
    assert(!mtmp.exists)

    // torn state 4: a superseded manifest and an unreferenced file
    // survive a crash; latest generation wins. Recovery sweeps ONLY
    // the crash residue (in no manifest); the superseded manifest is
    // retention-window state that VACUUM — not recovery — reclaims
    val liveNames = dataFiles().map(_.getName)
    java.nio.file.Files.write(
      new java.io.File(dirF, "_GRAFT_MANIFEST-g000000000").toPath,
      liveNames.mkString("\n").getBytes)
    val dead = new java.io.File(dirF, "part-old-dead.parquet")
    java.nio.file.Files.copy(donor.toPath, dead.toPath)
    val msg = Compact.recoverSwap(spark, s"$base/t")
    assert(msg.contains("outside manifest") && !msg.contains("superseded"))
    assert(!dead.exists)
    assert(dirF.listFiles().count(_.getName.startsWith("_GRAFT_MANIFEST")) === 2,
      "recovery must keep the superseded manifest for in-window readers")
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)
    val vac3 = Compact.vacuum(spark, s"$base/t", 0L, farFuture)
    assert(vac3.nManifestsDeleted === 1L && vac3.nDataFilesDeleted === 0L)
    assert(dirF.listFiles().count(_.getName.startsWith("_GRAFT_MANIFEST")) === 1)
  }

  test("retention: a reader holding generation g-1 completes its scan " +
      "after a g commit; vacuum honors the horizon") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-mret").toString
    (0 until 20000).map(i => (i.toLong, (i * 13 % 512).toLong)).toDF("a", "b")
      .repartition(8).write.mode("overwrite").parquet(s"$base/t")
    val expect = spark.read.parquet(s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // g1: manage + compact; the READER resolves g1's file list now
    assert(Compact.binPackInPlace(spark, s"$base/t",
      targetBytes = 1L << 26).nBinsRewritten >= 1L)
    val readerAtG1 = Compact.read(spark, s"$base/t")

    // g2: a full re-cluster supersedes EVERY g1 file while the g1
    // reader is still in flight — with tombstone retention its whole
    // file set stays on disk, so the stale scan completes exactly
    val rep = Compact.optimizeZorder(spark, s"$base/t", Seq("a", "b"),
      targetBytes = 1L << 26, bits = 8)
    assert(rep.bytesRewritten === rep.bytesBefore)
    assert(readerAtG1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === expect,
      "the g-1 reader must finish its scan after the g commit")
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === expect)

    // the horizon is honored: a vacuum NOW (retention > age) keeps
    // everything; only past the horizon does the garbage go
    val st = Compact.tableState(spark, s"$base/t").get
    assert(st.dead.nonEmpty)
    assert(Compact.vacuum(spark, s"$base/t", Long.MaxValue / 2,
      System.currentTimeMillis()) ===
      Compact.VacuumReport(0L, 0L, st.dead.length.toLong))
    val farFuture = System.currentTimeMillis() + (1L << 40)
    val vac = Compact.vacuum(spark, s"$base/t", 0L, farFuture)
    assert(vac.nDataFilesDeleted === st.dead.length.toLong)
    val left = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(left.length.toLong === rep.nFilesAfter,
      "after vacuum the directory holds exactly the live set")
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === expect)
  }

  test("binPack copy arm runs as ONE Spark job — a task per file, never the driver") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-cjob").toString
    (0 until 4000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .repartition(48).write.mode("overwrite").parquet(s"$base/in")
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.add((e.stageInfo.numTasks, e.stageInfo.name)): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val rep =
      try {
        val r = Compact.binPack(spark, s"$base/in", s"$base/out",
          targetBytes = 1L << 30, smallBytes = 1L) // all 48 files copy
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(rep.nFilesCopied === 48L && rep.nBinsRewritten === 0L)
    // the copy stage: exactly one task per file, scheduled from
    // Compact's copyDistributed — the driver moved no bytes
    import scala.jdk.CollectionConverters._
    val copyStages = stages.asScala.filter { case (n, name) =>
      n == 48 && name.contains("Compact.scala")
    }
    assert(copyStages.nonEmpty,
      s"no 48-task copy stage observed; saw ${stages.asScala.toList}")
    // and the copies are still byte-identical in name order
    def files(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName)
    files(s"$base/in").zip(files(s"$base/out")).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(a.toPath),
        java.nio.file.Files.readAllBytes(b.toPath)))
    }
  }

  test("binPack bin identity: an all-empty bin drops its file without misaligning names") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-ebin").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.mkdirs(hp(s"$base/in"))
    // donor files: one data part (s bytes), one ZERO-ROW part (the
    // streaming-sink shape the advice named)
    (0 until 3000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .coalesce(1).write.parquet(s"$base/data")
    (0 until 1).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .filter(col("a") < 0).coalesce(1).write.parquet(s"$base/empty")
    def part(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    val dataF = part(s"$base/data")
    val emptyF = part(s"$base/empty")
    assert(spark.read.parquet(emptyF.getPath).count() === 0L)
    // layout: (aa1,aa2)=data bin, (bb1,bb2)=ALL-EMPTY bin, zz=large
    for (n <- Seq("aa1", "aa2"))
      java.nio.file.Files.copy(dataF.toPath,
        new java.io.File(s"$base/in/$n.parquet").toPath)
    for (n <- Seq("bb1", "bb2"))
      java.nio.file.Files.copy(emptyF.toPath,
        new java.io.File(s"$base/in/$n.parquet").toPath)
    // zz: big enough to flush the run (>= smallBytes = target)
    val target = dataF.length() * 2
    (0 until 60000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .coalesce(1).write.parquet(s"$base/big")
    val bigF = part(s"$base/big")
    assert(bigF.length() >= target, "big donor must exceed the target")
    java.nio.file.Files.copy(bigF.toPath,
      new java.io.File(s"$base/in/zz.parquet").toPath)

    // pin maxRecordsPerFile around the call: the rewrite must ignore a
    // would-split setting and restore it afterwards (advice r13)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "100")
    val rep =
      try Compact.binPack(spark, s"$base/in", s"$base/out", target)
      finally {
        assert(spark.conf.get("spark.sql.files.maxRecordsPerFile") === "100",
          "maxRecordsPerFile not restored")
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
    // units: bin0=(aa1,aa2) -> one file (despite maxRecordsPerFile=100),
    // bin1=(bb1,bb2) -> NO file (zero rows), unit2=zz -> copy. The
    // empty bin must not shift the copy onto the wrong name.
    assert(rep.nBinsRewritten === 2L && rep.nFilesCopied === 1L &&
      rep.nFilesAfter === 2L)
    val names = new java.io.File(s"$base/out").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.getName).sorted.toSeq
    assert(names === Seq("part-000000000-packed.parquet",
      "part-000000002-copy.parquet"), s"misaligned names: $names")
    assert(spark.read.parquet(s"$base/out").count() === 2 * 3000L + 60000L)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(
        new java.io.File(s"$base/in/zz.parquet").toPath),
      java.nio.file.Files.readAllBytes(
        new java.io.File(s"$base/out/part-000000002-copy.parquet").toPath)))
    // dirty-destination guard (advice r13): a re-run into the same
    // directory fails fast instead of duplicating rows
    val e = intercept[IllegalArgumentException] {
      Compact.binPack(spark, s"$base/in", s"$base/out", target)
    }
    assert(e.getMessage.contains("not empty"))
  }

  test("binPackPartitioned: per-partition bins, pruning and values unchanged") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString
    val rows = (0 until 24000).map { i =>
      (i.toLong, (i % 3).toLong, (i % 2).toLong, (i * 13 % 997).toLong)
    }.toDF("id", "p", "q", "v")
    rows.repartition(8).write.partitionBy("p", "q")
      .mode("overwrite").parquet(s"$base/in")
    val before = spark.read.parquet(s"$base/in")
      .select(col("id"), col("p").cast("long"), col("q").cast("long"),
        col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val nLeafFilesIn = new java.io.File(s"$base/in/p=1/q=0").listFiles()
      .count(f => f.isFile && f.getName.startsWith("part-"))
    assert(nLeafFilesIn >= 4, s"probe needs small files per leaf, got $nLeafFilesIn")

    val rep = Compact.binPackPartitioned(spark, s"$base/in", s"$base/out",
      targetBytes = 1L << 26)
    assert(rep.nFilesBefore >= 24L && rep.nFilesAfter < rep.nFilesBefore)
    // structure reproduced: every leaf directory exists with ONE file
    for (p <- 0 to 2; q <- 0 to 1) {
      val leaf = new java.io.File(s"$base/out/p=$p/q=$q")
      assert(leaf.isDirectory, s"missing leaf p=$p/q=$q")
      assert(leaf.listFiles().count(f =>
        f.isFile && f.getName.startsWith("part-")) === 1)
    }
    // value losslessness INCLUDING the partition columns
    val after = spark.read.parquet(s"$base/out")
      .select(col("id"), col("p").cast("long"), col("q").cast("long"),
        col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(after === before)
    // partition pruning unchanged: a p=1 filter touches only p=1 files
    val touched = spark.read.parquet(s"$base/out").filter(col("p") === 1)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("/p=1/")),
      s"pruning broken: $touched")

    // the per-partition OPTIMIZE advisor reads the same layout: every
    // leaf's file count, footer row total, and the projected file
    // count — which must equal the compaction's actual outcome (one
    // file per leaf at this target)
    val cards = Compact.profileCardPartitioned(spark, s"$base/in",
        targetBytes = 1L << 26)
      .collect().map(r => r.getAs[String]("partition") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("projected_files_after")))).toMap
    assert(cards.size === 6)
    for (p <- 0 to 2; q <- 0 to 1) {
      val (nf, _, proj) = cards(s"p=$p/q=$q")
      assert(nf >= 4L, s"leaf p=$p/q=$q lost files in the profile")
      assert(proj === 1L, s"leaf p=$p/q=$q projected $proj files")
    }
    assert(cards.values.map(_._2).sum === 24000L)
    val after24 = Compact.profileCardPartitioned(spark, s"$base/out",
        targetBytes = 1L << 26)
      .agg(sum("n_files"), sum("n_rows")).head
    assert(after24.getLong(0) === rep.nFilesAfter &&
      after24.getLong(1) === 24000L)
  }

  test("optimizeZorder: in-place re-cluster via the manifest restores pruning") {
    import spark.implicits._
    import graft.operators.Compact
    val rnd = new scala.util.Random(41)
    val base = java.nio.file.Files.createTempDirectory("graft-zopt").toString
    // hash-mixed layout: every file spans every key range — the worst
    // case a re-cluster exists to fix
    Seq.fill(20000)((rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("a", "b").repartition(24)
      .write.mode("overwrite").parquet(s"$base/t")
    val before = spark.read.parquet(s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val total = new java.io.File(s"$base/t").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum

    def touched(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val perFile = df
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(min("a").as("loA"), max("a").as("hiA"),
          min("b").as("loB"), max("b").as("hiB")).collect()
      (perFile.count(r =>
        r.getAs[Long]("hiA") >= 256 && r.getAs[Long]("loA") <= 383 &&
          r.getAs[Long]("hiB") >= 256 && r.getAs[Long]("loB") <= 383)
        .toLong, perFile.length.toLong)
    }
    val (tBefore, nBefore) = touched(spark.read.parquet(s"$base/t"))
    assert(nBefore === 24L && tBefore >= 23L,
      s"hash-mixed control unexpectedly pruned: $tBefore of $nBefore")

    val rep = Compact.optimizeZorder(spark, s"$base/t", Seq("a", "b"),
      targetBytes = total / 8 + 1, bits = 10)
    assert(rep.nFilesBefore === 24L && rep.nFilesAfter >= 6L &&
      rep.bytesRewritten === rep.bytesBefore && rep.nFilesCopied === 0L)
    // lossless through the manifest reader; the identity g0 and the
    // committed g1 are both retained for in-window readers (round 15)
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)
    val dirF = new java.io.File(s"$base/t")
    assert(dirF.listFiles().count(
      _.getName.startsWith("_GRAFT_MANIFEST-g")) === 2)
    // the box query now prunes: z-clustered files cover compact
    // ranges, so most files miss the box entirely
    val (tAfter, nAfter) = touched(Compact.read(spark, s"$base/t"))
    assert(nAfter === rep.nFilesAfter)
    assert(tAfter.toDouble / nAfter < tBefore.toDouble / nBefore,
      s"re-cluster did not restore pruning: $tAfter/$nAfter vs " +
        s"$tBefore/$nBefore")
    // torn state: an uncommitted file stays invisible; recover sweeps
    val donor = dirF.listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    val orphan = new java.io.File(dirF, "part-zz-orphan-zorder.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(Compact.read(spark, s"$base/t").count() === 20000L)
    assert(Compact.recoverSwap(spark, s"$base/t")
      .contains("outside manifest"))
    assert(!orphan.exists)
    // a second optimize commits the next generation and stays lossless
    val rep2 = Compact.optimizeZorder(spark, s"$base/t", Seq("a", "b"),
      targetBytes = total, bits = 10)
    assert(rep2.nFilesAfter <= 2L)
    assert(dirF.listFiles().count(
      _.getName.startsWith("_GRAFT_MANIFEST-g")) === 3)
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)
    // vacuum reclaims both superseded generations' files and manifests
    val vac = Compact.vacuum(spark, s"$base/t", 0L,
      System.currentTimeMillis() + (1L << 40))
    assert(vac.nManifestsDeleted === 3L && vac.nDataFilesDeleted >= 24L)
    assert(dirF.listFiles().count(f =>
      f.isFile && f.getName.startsWith("part-")).toLong === rep2.nFilesAfter)
    assert(Compact.read(spark, s"$base/t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq === before)
  }

  test("optimizeZorderPartitioned: per-leaf re-cluster restores pruning, " +
      "pooled waves, torn leaf recovers") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-zpart").toString
    // 3 leaves, each hash-mixed over (a, b) so every file spans every
    // range — prunes nothing until the per-leaf re-cluster
    val rows = (0 until 30000).map { i =>
      val h = i * 2654435761L % 1024
      (i.toLong, (i % 3).toLong, h, (h * 7 % 1024))
    }.toDF("id", "p", "a", "b")
    rows.repartition(8).write.partitionBy("p")
      .mode("overwrite").parquet(s"$base/t")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("p").cast("long"), col("a"), col("b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val before = rowsOf(spark.read.parquet(s"$base/t"))
    def boxTouched(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val perFile = df
        .groupBy(org.apache.spark.sql.functions.input_file_name().as("f"))
        .agg(min("a").as("loA"), max("a").as("hiA"),
          min("b").as("loB"), max("b").as("hiB")).collect()
      (perFile.count(r =>
        r.getAs[Long]("hiA") >= 256 && r.getAs[Long]("loA") <= 383 &&
          r.getAs[Long]("hiB") >= 256 && r.getAs[Long]("loB") <= 383)
        .toLong, perFile.length.toLong)
    }
    val (tBefore, nBefore) = boxTouched(spark.read.parquet(s"$base/t"))
    assert(nBefore === 24L && tBefore >= 20L,
      s"hash-mixed control unexpectedly pruned: $tBefore of $nBefore")
    val total = (0 to 2).map(p => new java.io.File(s"$base/t/p=$p")
      .listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(_.length()).sum).sum

    val rep = Compact.optimizeZorderPartitioned(spark, s"$base/t",
      Seq("a", "b"), targetBytes = total / 12 + 1, bits = 10)
    assert(rep.nFilesBefore === 24L && rep.nFilesCopied === 0L &&
      rep.bytesRewritten === rep.bytesBefore)
    // lossless (values AND partition column) through the reader
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
    // pruning restored WITHIN each leaf: the same box query touches a
    // smaller share of files once each leaf is z-clustered
    val (tAfter, nAfter) = boxTouched(Compact.readPartitioned(spark, s"$base/t"))
    assert(nAfter === rep.nFilesAfter)
    assert(tAfter.toDouble / nAfter < tBefore.toDouble / nBefore,
      s"per-leaf re-cluster did not restore pruning: $tAfter/$nAfter " +
        s"vs $tBefore/$nBefore")
    // per-leaf manifest state: z files live, originals tombstoned
    for (p <- 0 to 2) {
      val st = Compact.tableState(spark, s"$base/t/p=$p").get
      assert(st.live.nonEmpty && st.dead.length === 8)
      assert(st.live.forall(_.contains("-zorder.parquet")))
    }
    // partition pruning still directory-level after the rewrite
    val touched = Compact.readPartitioned(spark, s"$base/t")
      .filter(col("p") === 2)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("/p=2/")))

    // torn state: an uncommitted z file in one leaf — the reader
    // serves the committed set; the partitioned verbs refuse; recover
    // sweeps only that leaf, then a re-run succeeds
    val leaf0 = new java.io.File(s"$base/t/p=0")
    val donor = leaf0.listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    val orphan = new java.io.File(leaf0, "part-zz-orphan-zorder.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
    intercept[IllegalArgumentException] {
      Compact.optimizeZorderPartitioned(spark, s"$base/t", Seq("a", "b"),
        targetBytes = total, bits = 10)
    }
    assert(Compact.recoverSwapPartitioned(spark, s"$base/t")
      .contains("outside manifest"))
    assert(!orphan.exists)
    val rep2 = Compact.optimizeZorderPartitioned(spark, s"$base/t",
      Seq("a", "b"), targetBytes = total, bits = 10)
    assert(rep2.nFilesAfter === 3L) // one z file per leaf at full target
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
    // vacuum reclaims every superseded generation across the leaves
    Compact.vacuumPartitioned(spark, s"$base/t", 0L,
      System.currentTimeMillis() + (1L << 40)): Unit
    for (p <- 0 to 2) {
      val leaf = new java.io.File(s"$base/t/p=$p")
      assert(leaf.listFiles().count(f =>
        f.isFile && f.getName.startsWith("part-")) === 1)
      assert(leaf.listFiles().count(
        _.getName.startsWith("_GRAFT_MANIFEST-g")) === 1)
    }
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
  }

  test("binPackPartitionedInPlace: per-leaf manifests, pooled waves, torn leaf recovers") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-pinp").toString
    val rows = (0 until 24000).map { i =>
      (i.toLong, (i % 3).toLong, (i * 13 % 997).toLong)
    }.toDF("id", "p", "v")
    rows.repartition(8).write.partitionBy("p")
      .mode("overwrite").parquet(s"$base/t")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("p").cast("long"), col("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val before = rowsOf(spark.read.parquet(s"$base/t"))
    val nBefore = (0 to 2).map(p => new java.io.File(s"$base/t/p=$p")
      .listFiles().count(f => f.isFile && f.getName.startsWith("part-"))).sum

    val rep = Compact.binPackPartitionedInPlace(spark, s"$base/t",
      targetBytes = 1L << 26)
    assert(rep.nFilesBefore === nBefore.toLong &&
      rep.nFilesAfter === 3L && rep.nFilesCopied === 0L)
    // every leaf: exactly one LIVE packed file; the rewritten inputs
    // are tombstoned on disk and the identity g0 manifest is retained
    // alongside the committed g1 (round 15 — reader safety window)
    for (p <- 0 to 2) {
      val leaf = new java.io.File(s"$base/t/p=$p")
      val st = Compact.tableState(spark, s"$base/t/p=$p").get
      assert(st.live.length === 1 && st.dead.nonEmpty)
      assert(leaf.listFiles().count(f =>
        f.isFile && f.getName.startsWith("part-")) === 1 + st.dead.length)
      assert(leaf.listFiles().count(
        _.getName.startsWith("_GRAFT_MANIFEST-g")) === 2)
    }
    // vacuumPartitioned reclaims every leaf's retained garbage
    val vac = Compact.vacuumPartitioned(spark, s"$base/t", 0L,
      System.currentTimeMillis() + (1L << 40))
    assert(vac.nDataFilesDeleted === nBefore.toLong &&
      vac.nManifestsDeleted === 6L)
    for (p <- 0 to 2) {
      val leaf = new java.io.File(s"$base/t/p=$p")
      assert(leaf.listFiles().count(f =>
        f.isFile && f.getName.startsWith("part-")) === 1)
      assert(leaf.listFiles().count(
        _.getName.startsWith("_GRAFT_MANIFEST-g")) === 1)
    }
    // lossless through the manifest-aware partitioned reader,
    // partition column included
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
    // partition pruning still directory-level
    val touched = Compact.readPartitioned(spark, s"$base/t")
      .filter(col("p") === 1)
      .select(org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty && touched.forall(_.contains("/p=1/")))

    // torn state: an uncommitted packed file in ONE leaf — the
    // partitioned reader still serves the committed set; in-place
    // refuses; recover sweeps only that leaf
    val leaf1 = new java.io.File(s"$base/t/p=1")
    val donor = leaf1.listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-")).head
    val orphan = new java.io.File(leaf1, "part-zz-orphan.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    assert(rowsOf(Compact.readPartitioned(spark, s"$base/t")) === before)
    intercept[IllegalArgumentException] {
      Compact.binPackPartitionedInPlace(spark, s"$base/t",
        targetBytes = 1L << 26)
    }
    val msg = Compact.recoverSwapPartitioned(spark, s"$base/t")
    assert(msg.contains("p=1") && msg.contains("outside manifest"))
    assert(!orphan.exists)
    assert(Compact.recoverSwapPartitioned(spark, s"$base/t")
      .startsWith("clean"))
    // a second pass has nothing to pack: no new manifest generations
    val rep2 = Compact.binPackPartitionedInPlace(spark, s"$base/t",
      targetBytes = 1L << 26, smallBytes = 1L)
    assert(rep2.nBinsRewritten === 0L && rep2.nFilesUntouched === 3L)
  }

  test("partitioned metadata plane runs as Spark jobs — one snapshot " +
      "stage over all leaves, never a per-leaf driver walk") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-mjob").toString
    // 12 leaves x 2 files: distinct task counts separate the listing
    // stage (12 = one task per leaf) from the footer stage (24 = one
    // task per file)
    val rows = (0 until 24000).map(i =>
      (i.toLong, (i % 12).toLong, (i * 7 % 997).toLong)).toDF("id", "p", "v")
    (0 until 12).foreach { p =>
      rows.filter(col("p") === p.toLong).repartition(2)
        .write.mode("append").parquet(s"$base/t/p=$p")
    }
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.add((e.stageInfo.numTasks, e.stageInfo.name)): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val prof =
      try {
        val p = Compact.profileFilesPartitioned(spark, s"$base/t",
          targetBytes = 1L << 26).collect()
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark.sparkContext)
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    // values: every leaf profiled, footer counts exact
    assert(prof.length === 24)
    assert(prof.map(_.getAs[Long]("n_rows")).sum === 24000L)
    assert(prof.map(_.getAs[String]("partition")).distinct.length === 12)
    // the metadata plane ran on the CLUSTER: a 12-task stage listed
    // the leaves (and a 12-task discovery level preceded it), a
    // 24-task stage read the footers — all scheduled from Compact
    import scala.jdk.CollectionConverters._
    val compactStages = stages.asScala.filter(_._2.contains("Compact.scala"))
    val cap = spark.sparkContext.defaultParallelism * 4
    assert(compactStages.count(_._1 == math.min(12, cap)) >= 2,
      s"missing the per-leaf listing/discovery stages; saw $compactStages")
    assert(compactStages.exists(_._1 == math.min(24, cap)),
      s"missing the all-files footer stage; saw $compactStages")
    // and the manifest-aware arms ride the same plane end to end
    val rep = Compact.binPackPartitionedInPlace(spark, s"$base/t",
      targetBytes = 1L << 26)
    assert(rep.nFilesBefore === 24L && rep.nFilesAfter === 12L)
    assert(Compact.readPartitioned(spark, s"$base/t")
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0) ===
      rows.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0))
  }

  test("flat verbs resolve their one leaf on the driver — no discovery " +
      "or snapshot job") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-fjob").toString
    // the RDD names of every stage completed while `body` runs
    def rddNames[T](body: => T): (T, Seq[String]) = {
      val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          e.stageInfo.rddInfos.foreach(r => names.add(r.name))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val out = body
        org.apache.spark.sql.graftbridge.ColumnBridge
          .drainListenerBus(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        (out, names.asScala.toList)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val plane = Set(Compact.LeafDirsRdd, Compact.LeafSnapshotRdd)
    val t = s"$base/t"
    val (_, appendRdds) = rddNames {
      (0 until 3).foreach { b =>
        Compact.appendManaged(spark, t,
          (b * 100 until (b + 1) * 100).map(i => (i.toLong, i % 7L))
            .toDF("id", "v").coalesce(1),
          txn = Some(("w", b.toLong)), statsCols = Seq("id")): Unit
      }
    }
    val (rep, packRdds) = rddNames(
      Compact.binPackInPlace(spark, t, targetBytes = 1L << 26))
    val (n, readRdds) = rddNames(Compact.read(spark, t).count())
    assert(rep.nBinsRewritten === 1L && n === 300L)
    Seq("appendManaged" -> appendRdds, "binPackInPlace" -> packRdds,
        "read" -> readRdds).foreach { case (verb, names) =>
      assert(names.nonEmpty, s"$verb ran no job at all")
      assert(!names.exists(plane), s"flat $verb ran a metadata-plane job: " +
        names.filter(plane).distinct)
    }
    // the control: the hive reader of the same directory does run them
    val (_, partRdds) = rddNames(Compact.readPartitioned(spark, t))
    assert(plane.subsetOf(partRdds.toSet),
      s"partitioned reader ran no metadata-plane job: ${partRdds.distinct}")
  }

  test("appendManagedPartitioned: per-leaf atomic appends, per-leaf txn " +
      "idempotence, partial-crash replay converges to exactly-once") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-apart").toString
    val t = s"$base/t"
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, (i % 3).toLong, i.toLong * 7L)).toDF("id", "p", "v")
    def ids() = Compact.readPartitioned(spark, t)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq

    // batch 0 creates the leaves; batch 1 appends to them
    Compact.appendManagedPartitioned(spark, t, mk(0, 300), Seq("p"),
      txn = Some(("w", 0L))): Unit
    assert(ids() === (0L until 300L))
    Compact.appendManagedPartitioned(spark, t, mk(300, 600), Seq("p"),
      txn = Some(("w", 1L))): Unit
    assert(ids() === (0L until 600L))
    // a replay of either batch id appends NOTHING to any leaf
    Compact.appendManagedPartitioned(spark, t, mk(0, 300), Seq("p"),
      txn = Some(("w", 0L))): Unit
    Compact.appendManagedPartitioned(spark, t, mk(300, 600), Seq("p"),
      txn = Some(("w", 1L))): Unit
    assert(ids() === (0L until 600L), "replayed batch ids duplicated rows")

    // PARTIAL-CRASH replay: batch 2 lands everywhere, then leaf p=2
    // is rolled back to its pre-batch state (the crash-before-commit
    // window for that leaf). The replay must no-op the committed
    // leaves and land exactly the missing one.
    Compact.appendManagedPartitioned(spark, t, mk(600, 900), Seq("p"),
      txn = Some(("w", 2L))): Unit
    assert(ids() === (0L until 900L))
    val leaf2 = new java.io.File(s"$t/p=2")
    val gen2 = Compact.tableState(spark, s"$t/p=2").get.gen
    leaf2.listFiles().filter { f =>
      f.getName.startsWith(f"_GRAFT_MANIFEST-g$gen2%09d") ||
        f.getName.contains(f"-g$gen2%09d-append")
    }.foreach(f => assert(f.delete(), s"rollback failed for $f"))
    assert(ids().length === 900 - 100, "rollback fixture wrong")
    Compact.appendManagedPartitioned(spark, t, mk(600, 900), Seq("p"),
      txn = Some(("w", 2L))): Unit
    assert(ids() === (0L until 900L),
      "partial-crash replay did not converge to exactly-once")
    // per-leaf tokens ended at batch 2 everywhere
    (0 to 2).foreach { p =>
      assert(Compact.tableState(spark, s"$t/p=$p").get.txns === Map("w" -> 2L))
    }
  }

  test("manifest delta chain: appends commit O(batch) bytes, checkpoints " +
      "roll on cadence, vacuum keeps a retained delta's whole chain") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-dchain").toString
    val t = s"$base/t"
    (1 to 20).foreach { b =>
      Compact.appendManaged(spark, t,
        Seq(((b - 1).toLong, b.toLong * 3L)).toDF("id", "v").coalesce(1),
        txn = Some(("w", b.toLong))): Unit
    }
    // gens 0 (identity) .. 20; checkpoints exactly at the cadence
    // (g0 and g16), deltas everywhere else — name-encoded kind
    val names = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.startsWith("_GRAFT_MANIFEST-g")).sorted.toSeq
    val checkpoints = names.filterNot(_.endsWith(".delta"))
    val deltas = names.filter(_.endsWith(".delta"))
    assert(checkpoints === Seq("_GRAFT_MANIFEST-g000000000",
      "_GRAFT_MANIFEST-g000000016"))
    assert(deltas.length === 19)
    // a delta carries ONLY its batch: one appended name + one txn line
    val d5 = scala.io.Source.fromFile(
      s"$t/_GRAFT_MANIFEST-g000000005.delta").getLines().toVector
    assert(d5 === Vector("#txn:w:5", "part-000000000-g000000005-append.parquet"))
    // the checkpoint restates the full state (16 names: none appended
    // at g0, one per gen 1..16)
    val c16 = scala.io.Source.fromFile(
      s"$t/_GRAFT_MANIFEST-g000000016").getLines().toVector
    assert(c16.count(!_.startsWith("#")) === 16)
    // readers fold the chain: full state, merged txn token, and time
    // travel to a mid-chain delta sees exactly its prefix
    assert(Compact.read(spark, t).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (0L until 20L))
    assert(Compact.tableState(spark, t).get.txns === Map("w" -> 20L))
    assert(Compact.readAt(spark, t, 7L).count() === 7L)
    // vacuum with EVERYTHING aged keeps exactly the latest
    // generation's chain (g16 checkpoint + deltas 17..20 — the base
    // checkpoint survives HOWEVER old it is) and reclaims the 16
    // generations nothing retained needs
    val farFuture = System.currentTimeMillis() + (1L << 40)
    val r1 = Compact.vacuum(spark, t, 0L, farFuture)
    assert(r1.nManifestsDeleted === 16L)
    assert(Compact.readAt(spark, t, 17L).count() === 17L)
    intercept[IllegalArgumentException] { Compact.readAt(spark, t, 7L) }
    assert(Compact.read(spark, t).count() === 20L)
    // compaction rolls a fresh checkpoint; now an all-aged vacuum can
    // reclaim the entire old chain and history collapses to it
    Compact.binPackInPlace(spark, t, targetBytes = 1L << 26): Unit
    Compact.vacuum(spark, t, 0L, farFuture): Unit
    val left = new java.io.File(t).listFiles()
      .map(_.getName).filter(_.startsWith("_GRAFT_MANIFEST-g")).toSeq
    assert(left.forall(!_.endsWith(".delta")), s"delta survived: $left")
    intercept[IllegalArgumentException] { Compact.readAt(spark, t, 7L) }
    assert(Compact.read(spark, t).count() === 20L)
    assert(Compact.tableState(spark, t).get.txns === Map("w" -> 20L),
      "txn tokens must survive checkpoint + vacuum")
  }

  test("data skipping: manifest stats prune files readBetween never " +
      "opens; maintained across append, OPTIMIZE, and Z-order") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-skip").toString
    val t = s"$base/t"
    // 4 appends, each a CONTIGUOUS 100-id range → sharp per-file bounds
    (0 until 4).foreach { b =>
      Compact.appendManaged(spark, t,
        (b * 100 until (b + 1) * 100)
          .map(i => (i.toLong, s"s${i / 100}", i.toDouble / 2))
          .toDF("id", "tag", "x").coalesce(1),
        statsCols = Seq("id", "tag")): Unit
    }
    def plain(lo: Long, hi: Long) = Compact.read(spark, t)
      .filter(col("id") >= lo && col("id") <= hi)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    def pruned(lo: Long, hi: Long) = Compact.readBetween(spark, t, "id", lo, hi)
    // correctness: identical to the plain filtered read
    assert(pruned(150L, 249L).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === plain(150L, 249L))
    // PRUNING: the scan opens exactly the files whose range intersects
    assert(pruned(150L, 249L).inputFiles.length === 2)
    assert(pruned(50L, 60L).inputFiles.length === 1)
    assert(pruned(0L, 399L).inputFiles.length === 4)
    // string bounds prune too; an untracked column prunes nothing but
    // stays correct; an empty intersection reads zero rows
    assert(Compact.readBetween(spark, t, "tag", "s1", "s2")
      .inputFiles.length === 2)
    assert(Compact.readBetween(spark, t, "x", 10L, 20L)
      .inputFiles.length === 4)
    assert(pruned(1000L, 2000L).count() === 0L)
    // stats survive OPTIMIZE: the packed file gets recomputed bounds
    Compact.binPackInPlace(spark, t, targetBytes = 1L << 26): Unit
    assert(Compact.tableState(spark, t).get.stats.values
      .flatMap(_.map(_.col)).toSet === Set("id", "tag"))
    assert(pruned(150L, 249L).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === plain(150L, 249L))
    assert(pruned(1000L, 2000L).count() === 0L)

    // the Z-order composition: a hash-mixed layout prunes NOTHING even
    // with stats; re-clustering makes the same bounds sharp
    val t2 = s"$base/t2"
    (0 until 400).map(i => (i.toLong, i.toLong * 3L)).toDF("id", "v")
      .repartition(4, col("id")).write.parquet(t2)
    Compact.collectStats(spark, t2, Seq("id")): Unit
    val before = Compact.readBetween(spark, t2, "id", 10L, 40L)
    assert(before.inputFiles.length === 4, "hash-mixed files all span " +
      "the range — nothing prunable before Z-order")
    Compact.optimizeZorder(spark, t2, Seq("id"), targetBytes = 1L << 10): Unit
    val total = Compact.tableState(spark, t2).get.live.length
    assert(total > 1, s"Z-order produced one file — fixture too small")
    val after = Compact.readBetween(spark, t2, "id", 10L, 40L)
    assert(after.inputFiles.length < total,
      s"Z-ordered stats pruned nothing: ${after.inputFiles.length}/$total")
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq
      === (10L to 40L))
  }

  test("partitioned data skipping and the skippingCard telemetry") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-pskip").toString
    val t = s"$base/t"
    // 4 batches, each a contiguous 100-id slab fanned over 2 leaves
    // (coalesce(1) → one file per leaf per batch, slab-sharp bounds)
    (0 until 4).foreach { b =>
      Compact.appendManagedPartitioned(spark, t,
        (b * 100 until (b + 1) * 100)
          .map(i => (i.toLong, (i % 2).toLong)).toDF("id", "p").coalesce(1),
        Seq("p"), statsCols = Seq("id")): Unit
    }
    val r = Compact.readBetweenPartitioned(spark, t, "id", 150L, 249L)
    // per leaf only the [100,199] and [200,299] slab files survive
    assert(r.inputFiles.length === 4,
      s"expected 4 of 8 files, got ${r.inputFiles.length}")
    assert(r.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Compact.readPartitioned(spark, t)
        .filter(col("id") >= 150L && col("id") <= 249L)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // partition columns reconstruct on the pruned scan
    assert(r.filter(col("p") === 1L).count() === 50L)

    // the flat card prices pruning from manifest metadata alone
    val tf = s"$base/tf"
    (0 until 4).foreach { b =>
      Compact.appendManaged(spark, tf,
        (b * 100 until (b + 1) * 100).map(i => (i.toLong, 0L))
          .toDF("id", "v").coalesce(1),
        statsCols = Seq("id")): Unit
    }
    val card = Compact.skippingCard(spark, tf, "id", 130L, 240L).collect()(0)
    assert((card.getLong(0), card.getLong(1), card.getLong(2)) ===
      ((4L, 2L, 2L)))

    // stats survive the PARTITIONED in-place verbs: compaction packs
    // each leaf (bounds recomputed for packed files), Z-order
    // re-clusters and the recomputed bounds prune again
    Compact.binPackPartitionedInPlace(spark, t, targetBytes = 1L << 26): Unit
    val rc = Compact.readBetweenPartitioned(spark, t, "id", 150L, 249L)
    assert(rc.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (150L to 249L))
    assert(Compact.tableState(spark, s"$t/p=0").get.stats.nonEmpty,
      "partitioned compaction dropped the leaf's stats")
    Compact.optimizeZorderPartitioned(spark, t, Seq("id"),
      targetBytes = 1L << 10): Unit
    val totalZ = (0 to 1).map(pv =>
      Compact.tableState(spark, s"$t/p=$pv").get.live.length).sum
    assert(totalZ > 2, s"fixture too small for a pruning pin: $totalZ")
    val rz = Compact.readBetweenPartitioned(spark, t, "id", 0L, 40L)
    assert(rz.inputFiles.length < totalZ,
      s"partitioned Z-order stats pruned nothing: " +
        s"${rz.inputFiles.length}/$totalZ")
    assert(rz.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (0L to 40L))
  }

  test("readWhere conjunction pruning and the pooled partitioned " +
      "stats verbs") {
    import spark.implicits._
    import graft.operators.Compact
    import graft.operators.Compact.{LongEq, LongIn, LongRange, StringEq}
    val base = java.nio.file.Files.createTempDirectory("graft-where").toString
    val t = s"$base/t"
    (0 until 4).foreach { b =>
      Compact.appendManaged(spark, t,
        (b * 100 until (b + 1) * 100)
          .map(i => (i.toLong, s"t$b", i.toLong % 7L))
          .toDF("id", "tag", "w").coalesce(1),
        statsCols = Seq("id", "tag")): Unit
    }
    // conjunction compounds pruning: the id range matches slabs 1-2,
    // the tag equality pins slab 1 — one file opened
    val r = Compact.readWhere(spark, t,
      Seq(LongRange("id", 150L, 249L), StringEq("tag", "t1")))
    assert(r.inputFiles.length === 1)
    assert(r.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (150L to 199L))
    // IN keeps exactly the slabs containing any member
    val ri = Compact.readWhere(spark, t, Seq(LongIn("id", Seq(5L, 305L))))
    assert(ri.inputFiles.length === 2)
    assert(ri.count() === 2L)
    // equality on an untracked column prunes nothing but stays correct
    val rw = Compact.readWhere(spark, t, Seq(LongEq("w", 3L)))
    assert(rw.inputFiles.length === 4)
    assert(rw.count() ===
      Compact.read(spark, t).filter(col("w") === 3L).count())

    // partitioned: establish stats AFTER the fact with ONE pooled
    // footer job, price a range, and read through the clause pruner
    val t2 = s"$base/t2"
    (0 until 2).foreach { b =>
      Compact.appendManagedPartitioned(spark, t2,
        (b * 100 until (b + 1) * 100)
          .map(i => (i.toLong, (i % 2).toLong)).toDF("id", "p").coalesce(1),
        Seq("p")): Unit // no statsCols — lands unprofiled
    }
    assert(Compact.collectStatsPartitioned(spark, t2, Seq("id")) === 4L)
    assert(Compact.collectStatsPartitioned(spark, t2, Seq("id")) === 0L,
      "collectStatsPartitioned re-profiled already-covered files")
    val card = Compact.skippingCardPartitioned(spark, t2, "id", 0L, 99L)
      .collect()(0)
    assert((card.getLong(0), card.getLong(1), card.getLong(2)) ===
      ((4L, 2L, 2L)))
    val rp = Compact.readWherePartitioned(spark, t2,
      Seq(LongRange("id", 0L, 99L)))
    assert(rp.inputFiles.length === 2)
    assert(rp.count() === 100L)
    assert(rp.filter(col("p") === 1L).count() === 50L)
  }

  test("schema evolution: mismatched appends fail fast, allowWiden flags " +
      "#merge, readers merge schemas, a full rewrite re-unifies") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-widen").toString
    val t = s"$base/t"
    Compact.appendManaged(spark, t,
      (0 until 100).map(i => (i.toLong, i.toLong * 2L)).toDF("id", "v")
        .coalesce(1)): Unit
    // a type conflict on a shared column always fails
    intercept[IllegalArgumentException] {
      Compact.appendManaged(spark, t, Seq(("x", 1L)).toDF("id", "v"))
    }
    // widening without permission fails and the table is untouched
    intercept[IllegalArgumentException] {
      Compact.appendManaged(spark, t,
        (100 until 200).map(i => (i.toLong, i.toLong * 2L, s"s$i"))
          .toDF("id", "v", "tag"))
    }
    assert(Compact.read(spark, t).count() === 100L)
    // allowWiden commits and flags the table: readers merge schemas,
    // old rows read the new column as null
    Compact.appendManaged(spark, t,
      (100 until 200).map(i => (i.toLong, i.toLong * 2L, s"s$i"))
        .toDF("id", "v", "tag").coalesce(1),
      allowWiden = true): Unit
    assert(Compact.tableState(spark, t).get.merge)
    val r = Compact.read(spark, t)
    assert(r.columns.toSet === Set("id", "v", "tag"))
    assert(r.count() === 200L)
    assert(r.filter(col("tag").isNull).count() === 100L)
    // a NARROWER late batch is also an evolution — same gate
    Compact.appendManaged(spark, t, Seq((500L, 1L)).toDF("id", "v"),
      allowWiden = true): Unit
    assert(Compact.read(spark, t).count() === 201L)
    // a full rewrite re-unifies the files on the merged schema and
    // CLEARS the flag; values survive
    Compact.binPackInPlace(spark, t, targetBytes = 1L << 26): Unit
    val st = Compact.tableState(spark, t).get
    assert(!st.merge, "full rewrite should re-unify the schema")
    val r2 = Compact.read(spark, t)
    assert(r2.columns.toSet === Set("id", "v", "tag"))
    assert(r2.count() === 201L)
    assert(r2.filter(col("tag").isNotNull).count() === 100L)

    // partitioned twin: the guard aborts BEFORE any leaf commits (the
    // scratch remains for recovery), and the widened retry lands
    val t2 = s"$base/t2"
    Compact.appendManagedPartitioned(spark, t2,
      (0 until 100).map(i => (i.toLong, (i % 2).toLong)).toDF("id", "p")
        .coalesce(1), Seq("p")): Unit
    intercept[IllegalArgumentException] {
      Compact.appendManagedPartitioned(spark, t2,
        (100 until 200).map(i => (i.toLong, (i % 2).toLong, i.toDouble))
          .toDF("id", "p", "x").coalesce(1), Seq("p"))
    }
    assert(!Compact.recoverSwapPartitioned(spark, t2).startsWith("clean"))
    assert(Compact.readPartitioned(spark, t2).count() === 100L)
    Compact.appendManagedPartitioned(spark, t2,
      (100 until 200).map(i => (i.toLong, (i % 2).toLong, i.toDouble))
        .toDF("id", "p", "x").coalesce(1), Seq("p"),
      allowWiden = true): Unit
    val rp = Compact.readPartitioned(spark, t2)
    assert(rp.columns.toSet === Set("id", "p", "x"))
    assert(rp.count() === 200L)
    assert(rp.filter(col("x").isNull).count() === 100L)
  }

  test("readChanges: the appended increment between retained generations; " +
      "rewrites in range fail fast") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-rchg").toString
    val t = s"$base/t"
    val d = (0 until 900).map(i => (i.toLong, i.toLong * 5L)).toDF("a", "b")
    d.filter(col("a") % 3 === 0).repartition(2).write.parquet(t)
    Compact.appendManaged(spark, t,
      d.filter(col("a") % 3 === 1).repartition(2)): Unit
    Compact.appendManaged(spark, t,
      d.filter(col("a") % 3 === 2).repartition(2)): Unit
    def ch(from: Long, to: Long) = Compact.readChanges(spark, t, from, to)
      .select("a").collect().map(_.getLong(0)).sorted.toSeq
    assert(ch(0L, 2L) === (0L until 900L).filter(_ % 3L != 0L))
    assert(ch(1L, 2L) === (0L until 900L).filter(_ % 3L == 2L))
    assert(ch(0L, 1L) === (0L until 900L).filter(_ % 3L == 1L))
    // a rewrite inside the range: the increment is no longer a file
    // set — fail fast rather than serve rewritten rows as "changes"
    Compact.binPackInPlace(spark, t, targetBytes = 1L << 26): Unit
    intercept[IllegalArgumentException] {
      Compact.readChanges(spark, t, 2L, 3L)
    }
    // consumption resumes across the rewrite: the next append's
    // increment reads from the compacted generation
    Compact.appendManaged(spark, t,
      Seq((9000L, 1L), (9001L, 2L)).toDF("a", "b").coalesce(1)): Unit
    assert(ch(3L, 4L) === Seq(9000L, 9001L))
    // endpoints must be retained generations
    intercept[IllegalArgumentException] {
      Compact.readChanges(spark, t, 4L, 99L)
    }
  }

  test("readAt: time travel reaches every retained generation and fails " +
      "fast past the vacuum horizon") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val t = s"$base/t"
    val d = (0 until 9000).map(i => (i.toLong, i.toLong % 97L)).toDF("a", "b")
    d.filter(col("a") % 2 === 0).repartition(4).write.parquet(t)
    Compact.appendManaged(spark, t,
      d.filter(col("a") % 2 === 1).repartition(4)): Unit
    Compact.binPackInPlace(spark, t, targetBytes = 1L << 26): Unit
    def idsAt(g: Long) = Compact.readAt(spark, t, g)
      .select("a").collect().map(_.getLong(0)).sorted.toSeq
    // g0 = the identity manifest of the seed (even half); g1 = the
    // committed append (full corpus); g2 = the compaction (same rows)
    assert(idsAt(0L) === (0L until 9000L by 2L))
    assert(idsAt(1L) === (0L until 9000L))
    assert(idsAt(2L) === (0L until 9000L))
    val err = intercept[IllegalArgumentException] {
      Compact.readAt(spark, t, 99L)
    }
    assert(err.getMessage.contains("retained: 0, 1, 2"))
    // vacuum past the horizon: history collapses to the latest
    Compact.vacuum(spark, t, 0L,
      System.currentTimeMillis() + (1L << 40)): Unit
    intercept[IllegalArgumentException] { Compact.readAt(spark, t, 0L) }
    assert(idsAt(3L) === (0L until 9000L),
      "the vacuum-committed generation must remain readable")
  }

  test("profileFiles/profileCard: the OPTIMIZE advisor matches the layout and its projection") {
    import spark.implicits._
    import graft.operators.Compact
    val base = java.nio.file.Files.createTempDirectory("graft-prof").toString
    (0 until 6000).map(i => (i.toLong, i.toLong)).toDF("a", "b")
      .repartition(12).write.mode("overwrite").parquet(s"$base/t")
    val inFiles = new java.io.File(s"$base/t").listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    val target = inFiles.map(_.length()).sum / 3 + 1

    val files = Compact.profileFiles(spark, s"$base/t", target).collect()
    assert(files.length === 12)
    assert(files.map(_.getAs[Long]("n_rows")).sum === 6000L)
    assert(files.forall(_.getAs[Boolean]("is_small")))
    val card = Compact.profileCard(spark, s"$base/t", target).head
    assert(card.getAs[Long]("n_files") === 12L)
    assert(card.getAs[Long]("n_rows") === 6000L)
    assert(card.getAs[Long]("n_small_files") === 12L)
    assert(card.getAs[Long]("small_file_share_micro") === 1000000L)
    val projected = card.getAs[Long]("projected_files_after")

    // the projection is the compaction's actual outcome
    val rep = Compact.binPackInPlace(spark, s"$base/t", targetBytes = target)
    assert(rep.nFilesAfter === projected,
      s"projection $projected vs actual ${rep.nFilesAfter}")
    // after: no small-file tail is left at the packed granularity —
    // and the profile reads the MANIFEST order on the managed table
    val cardAfter = Compact.profileCard(spark, s"$base/t", target).head
    assert(cardAfter.getAs[Long]("n_files") === rep.nFilesAfter)
    assert(cardAfter.getAs[Long]("n_rows") === 6000L)
    assert(cardAfter.getAs[Long]("n_files") <
      card.getAs[Long]("n_files"))
  }

  test("6M-row exact quantiles satisfy the order-statistic bounds") {
    val n = probe.count()
    assert(n > 5000000L, s"probe size $n — a decade above sf0.1")
    val q = 20
    val cuts = Quantiles.exactQuantiles(probe, "v", q).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(cuts.length == q + 1)
    // distributed validation: for the value x at rank r,
    // count(v < x) < r <= count(v <= x) — the defining property of the
    // order statistic, checked against the full 6M rows in one pass
    val aggCols = cuts.flatMap { case (j, _, x) =>
      Seq(sum(when(col("v") < x, 1L).otherwise(0L)).as(s"lt_$j"),
        sum(when(col("v") <= x, 1L).otherwise(0L)).as(s"le_$j"))
    }
    val aggs = probe.agg(aggCols.head, aggCols.tail: _*).head
    cuts.foreach { case (j, r, _) =>
      val lt = aggs.getAs[Long](s"lt_$j")
      val le = aggs.getAs[Long](s"le_$j")
      assert(lt < r && r <= le,
        s"cut $j rank $r violates order-statistic bounds ($lt, $le]")
    }
    // monotone non-decreasing cut values
    assert(cuts.map(_._3).toSeq == cuts.map(_._3).sorted.toSeq)
  }

  test("6M-row epoch shard is a balanced permutation") {
    val ids = probe.select(col("rid").as("doc_id")).distinct()
    val n = ids.count()
    val sharded = CorpusOps.epochShard(ids, epoch = 3, nShards = 64)
    val stats = sharded
      .agg(countDistinct(col("pos") * 64 + col("shard")).as("nGp"),
        max(col("pos") * 64 + col("shard")).as("maxGp"),
        min(col("pos") * 64 + col("shard")).as("minGp")).head
    // global positions reconstruct 0..N-1 exactly: a permutation
    assert(stats.getAs[Long]("nGp") === n)
    assert(stats.getAs[Long]("maxGp") === n - 1)
    assert(stats.getAs[Long]("minGp") === 0L)
    // round-robin balance: shard sizes differ by at most 1
    val sizes = sharded.groupBy("shard").count()
      .agg(min("count").as("lo"), max("count").as("hi")).head
    assert(sizes.getAs[Long]("hi") - sizes.getAs[Long]("lo") <= 1L)
  }

  test("6M-row skewed top-k: heap operator ≡ window path, rewrite fires") {
    // ~30% of the 6M rows pile onto one hot key (the shape where the
    // builtin's per-group sort hurts most); the rest spread over 996
    val keyed = probe.select(col("rid"),
      when(col("rid") % 10 < 3, lit(0L)).otherwise(col("rid") % 997L)
        .as("key"),
      col("v"))
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (gotDf, tHeap) = timed {
      val d = graft.plans.TopKPerKey.topKPerKey(keyed, Seq("key"),
        Seq(("v", false), ("rid", true)), k = 5)
      d.write.format("noop").mode("overwrite").save(); d
    }
    spark.conf.set("spark.graft.topkRewrite.enabled", "false")
    val (wantDf, tWin) = try timed {
      val d = keyed.withColumn("__rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("key").orderBy(col("v").desc, col("rid"))))
        .filter(col("__rn") <= 5).drop("__rn")
      d.write.format("noop").mode("overwrite").save(); d
    } finally spark.conf.set("spark.graft.topkRewrite.enabled", "true")
    info(f"6M skewed top-5: heap ${tHeap}%.2fs vs window ${tWin}%.2fs")
    // bit-identical row sets, checked distributed (outputs are ≤ 4985
    // rows; the anti-joins run over those, never the 6M base)
    assert(gotDf.exceptAll(wantDf).isEmpty && wantDf.exceptAll(gotDf).isEmpty)
    // per-key cardinality law: exactly min(5, |group|) rows per key
    val bad = gotDf.groupBy("key").count()
      .join(keyed.groupBy("key").count().withColumnRenamed("count", "n"),
        Seq("key"))
      .filter(col("count") =!= least(lit(5L), col("n"))).count()
    assert(bad == 0L)
    // the no-API-change path: the window spelling (rank dropped)
    // plans onto the operator at this scale too
    val rewritten = keyed.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy(col("v").desc, col("rid"))))
      .filter(col("__rn") <= 5).drop("__rn")
    assert(rewritten.queryExecution.executedPlan.toString
      .contains("TopKPerKeyFinal"))
  }

  test("6M-row KMV sketches: accuracy and partitioning independence at scale") {
    import graft.stats.Kmv
    // 7 groups of ~857k distinct ids each — the sketch build is one
    // typed-imperative pass with ≤k-value buffers map-side combined
    // across 32 partitions; no distinct, no sort
    val keyed = probe.select((col("rid") % 7).as("k"),
      col("rid").cast("string").as("v"))
    val K = 256
    val sk = Kmv.sketch(keyed, Seq("k"), col("v"), K)
      .select(col("k"),
        Kmv.distinctEstimate(col("kmv"), K).as("est"), col("kmv"))
    val exact = keyed.distinct().groupBy("k").count()
    val joined = sk.join(exact, Seq("k")).collect()
    assert(joined.length == 7)
    joined.foreach { r =>
      val (est, n) = (r.getAs[Double]("est"), r.getAs[Long]("count"))
      assert(math.abs(est - n) < 4.0 * n / math.sqrt(K - 2.0),
        s"k=${r.get(0)}: est $est vs exact $n")
    }
    // the retained arrays are a pure function of the value set
    val re = Kmv.sketch(keyed.repartition(5), Seq("k"), col("v"), K)
    assert(sk.select("k", "kmv").exceptAll(re).isEmpty)
  }

  test("50k-doc byte-CDC: replicated payloads collapse to one chunk store") {
    import graft.text.Cdc
    // 10 replicas of sf0.1's documents (50k payloads): every replica
    // shares ALL its chunks with the original, so the distinct chunk
    // store must be EXACTLY the original corpus' store — the
    // content-defined identity property at a decade above the gate
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val reps = spark.range(0, 10).select(col("id").as("r"))
    val big = docs.crossJoin(reps)
      .select((col("doc_id") * 10 + col("r")).as("doc_id"), col("text"))
    val bigChunks = Cdc.byteChunks(big, "text", maskBits = 6)
    val stats = bigChunks.agg(
      count(lit(1)).as("occ"),
      countDistinct(col("chunk_hash")).as("store")).head
    val baseStore = Cdc.byteChunks(docs, "text", maskBits = 6)
      .agg(countDistinct(col("chunk_hash")).as("s")).head.getAs[Long]("s")
    assert(stats.getAs[Long]("store") == baseStore,
      "replication leaked new chunks — boundaries moved")
    assert(stats.getAs[Long]("occ") >= 10L * baseStore,
      "occurrence count must cover every replica")
  }

  test("6M-row SKEWED broadcast overlap: hot key immune, expansion parity") {
    import graft.operators.RangeJoin
    // 6M intervals, ~30% funneled onto ONE hot key (the AQE-skew
    // shape): the broadcast path never shuffles the big side, so the
    // hot key costs exactly its row share — no straggler reducer —
    // while the expansion join shuffles (key, bucket) with the hot
    // key's replicas concentrated
    val base = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_suppkey", "l_shipdate")
    val reps = spark.range(0, 10).select(col("id").as("k"))
    val lo = unix_date(col("l_shipdate").cast("date")).cast("long")
    val left = base.crossJoin(reps)
      .select(
        when(pmod(col("l_orderkey") * 10 + col("k"), lit(10L)) < 3, lit(7L))
          .otherwise(pmod(col("l_suppkey") * 7 + col("k"), lit(500L)))
          .as("key"),
        (col("l_orderkey") * 80 + col("l_linenumber") * 10 + col("k"))
          .as("lid_a"),
        lo.as("lo_a"),
        (lo + lit(1L) +
          pmod(col("l_orderkey") * 7 + col("k"), lit(21L))).as("hi_a"))
      .localCheckpoint()
    val hotShare = left.filter(col("key") === 7L).count().toDouble /
      left.count()
    assert(hotShare > 0.25, f"hot-key share $hotShare%.2f — probe mis-built")
    val wlo = lit(8036L) + pmod(col("key") * 37 + col("wid") * 797, lit(2400L))
    val right = spark.range(0, 500).select(col("id").as("key"))
      .withColumn("wid", explode(sequence(lit(0L), lit(2L))))
      .select(col("key"), col("wid"), wlo.as("lo_b"),
        (wlo + lit(33L)).as("hi_b"))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("key", "wid")
      .agg(count(lit(1)).as("n"), sum("lid_a").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val t0 = System.nanoTime()
    val bc = agg(RangeJoin.intervalOverlapBroadcast(left, right,
      "lo_a", "hi_a", "lo_b", "hi_b", equiKeys = Seq("key")))
    val bcSec = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val exp = agg(RangeJoin.intervalOverlap(left, right,
      "lo_a", "hi_a", "lo_b", "hi_b", bucketWidth = 16,
      equiKeys = Seq("key")))
    val expSec = (System.nanoTime() - t1) / 1e9
    info(f"6M skewed overlap: broadcast $bcSec%.1f s vs expansion $expSec%.1f s")
    assert(bc === exp && bc.nonEmpty)
    // the hot key's pairs really dominate — the skew was exercised
    val hotPairs = bc.collect { case ((7L, _), (n, _)) => n }.sum
    assert(hotPairs > bc.values.map(_._1).sum / 10,
      "hot key contributed too little — skew not exercised")
  }
}
