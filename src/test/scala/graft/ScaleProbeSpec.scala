package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.vector.{Ivf, Similarity}

/** End-to-end probe of the LARGE-quantizer IVF read path — the regime a
  * 100 TB IVFADC implies (coarse quantizers of 10^4-10^5 cells), where
  * the centroid matrix must ride a real Spark broadcast (the fused
  * [[graft.functions.NearestCell]] / [[graft.functions.NearestCells]]
  * kernels carry only its handle) instead of a plan literal.
  * Round 7 pinned literal≡broadcast≡interpreted parity at 10k cells;
  * this probe runs the actual retrieval JOIN at 65,536 cells over the
  * 100k-vector probe corpus (sf0.1's embeddings x50, dimension-rotated
  * replicas), replacing extrapolation with a measured run.
  *
  * Memory, measured by construction: the centroid matrix is
  * 65,536 x 64 doubles = 33.5 MB — ONE broadcast fetched per executor
  * (and memoized per matrix since round 8, so repeated probe queries
  * reuse the same handle), vs ~33.5 MB serialized into EVERY task
  * binary on the literal path. Driver holds the matrix plus the
  * 100k-row collected sample that builds it (~50 MB transient). */
class ScaleProbeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("65k-cell IVF retrieval: bcast kernel in-plan, recall floor holds") {
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select("vec_id", "embedding")
    // 50 dimension-rotated replicas -> 100k vectors whose cell geometry
    // and neighbor sets genuinely differ per replica
    val reps = spark.range(0, 50).select(col("id").cast("int").as("k"))
    val corpus = base.crossJoin(reps)
      .repartition(32) // the sf0.1 file is one split; spread the kernel
      .select((col("vec_id") + col("k") * lit(100000L)).as("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          element_at(col("embedding"),
            ((d + col("k")) % 64).cast("int") + 1).cast("double"))
          .as("embedding"))
    val nVec = corpus.count()
    assert(nVec === 100000L)

    // "trained" coarse quantizer: the 65,536 lowest-id corpus vectors
    // snapped to the 1e6 fixed-point grid (integer-valued doubles, the
    // same contract trainCentroids output satisfies) — Lloyd at this
    // cell count is a training-cost question, not a read-path one, and
    // the read path is what this probe exercises
    val cents: Array[Array[Double]] = corpus.orderBy("vec_id").limit(65536)
      .select("embedding").collect()
      .map(_.getSeq[Double](0).toArray.map(x =>
        java.math.BigDecimal.valueOf(x * 1e6)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()))
    assert(cents.length === 65536)
    assert(cents.length.toLong * 64 > Ivf.BcastThreshold,
      "probe must sit above the broadcast threshold")

    val queries = corpus.filter(col("vec_id") < 20)
    val top = Ivf.ivfTopK(corpus, queries, k = 10, nProbe = 64,
      trained = Some(cents))

    // the plan must carry the broadcast-backed fused kernel, not a
    // centroid literal (which would serialize 33.5 MB into every task
    // binary and print into the plan string)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("graft_nearest_cell") && plan.contains("Broadcast("),
      "large quantizer must route through the broadcast-backed fused kernel")
    assert(plan.length < (1 << 16),
      s"plan string is ${plan.length} chars: a centroid literal leaked in")

    val ann = top.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    info(f"65k-cell probe: recall@10 = $recall%.3f at nProbe=64 over $nVec vectors")
    assert(recall >= 0.60,
      f"recall $recall%.3f below the 65k-cell probe floor")
  }

  test("200k-node PageRank probe: constant-depth iteration, mass bound, " +
      "hub skew") {
    // chain + hash-derived hub edges: every node links to its successor
    // and to one of 1,000 hub nodes, so in-degree is heavily skewed --
    // the shape of a real host graph. 5 iterations at 200k nodes /
    // ~400k edges pins that the localCheckpoint cadence keeps each
    // iteration's plan constant-depth (the 2^iters lineage blowup
    // reproduced at 20 nodes without it) and that integer mass stays
    // within the truncation bound at real size.
    val n = 200000L
    val nodes = spark.range(n).toDF("node")
    val edges = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      .union(spark.range(n).select(col("id").as("src"),
        pmod(col("id") * 2654435761L, lit(1000L)).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val nEdges = edges.count()
    val t0 = System.nanoTime()
    val agg = graft.operators.PageRank.ranks(nodes, edges, iters = 5)
      .agg(sum("rank_pico").as("mass"), count(lit(1)).as("cnt"),
        max("rank_pico").as("hub"), min("rank_pico").as("lo"))
      .collect().head
    info(f"200k-node 5-iter PageRank: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val M = 1000000000000L
    assert(agg.getAs[Long]("cnt") === n)
    val mass = agg.getAs[Long]("mass")
    // each iteration truncates < 1 pico per share/base/damped division
    assert(mass <= M && mass >= M - 5L * (nEdges + 3 * n + 10), s"mass $mass")
    // hubs dominate: max rank far above the uniform 1/n share
    assert(agg.getAs[Long]("hub") > 20L * (M / n), s"no hub skew: $agg")
    assert(agg.getAs[Long]("lo") > 0L)
  }

  test("200k-position suffix-rank probe: doubling chain correct on sampled pairs") {
    // 2,000 synthetic docs x ~100 tokens over a 400-word vocab with
    // planted repeated phrases (every 10th doc shares a 25-token run),
    // so ties, long shared prefixes, AND cross-doc repeats all occur
    // at a scale where a wrong doubling round cannot hide. Correctness
    // check: on 300 sampled position pairs, rank order must equal
    // lexicographic suffix order (and equal suffixes equal ranks).
    val nDocs = 2000
    val docsLocal = (0 until nDocs).map { d =>
      val len = 80 + (d * 31) % 40
      val toks = (0 until len).map { i =>
        if (d % 10 == 0 && i >= 20 && i < 45) s"w${(i * 13) % 97}" // planted run
        else s"w${(d * 131 + i * 7919) % 400}"
      }
      (d.toLong, toks.mkString(" "))
    }
    val t0 = System.nanoTime()
    val ranks = graft.operators.SuffixRank.suffixRanks(
      docsLocal.toDF("doc_id", "text"))
    val got = ranks.collect().map(r =>
      (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    info(f"200k-position suffix rank: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val byDoc = docsLocal.toMap.map { case (d, t) => d -> t.split(" ").toSeq }
    assert(got.size === byDoc.map(_._2.size).sum)
    val keys = got.keys.toArray.sortBy(k => (k._1, k._2))
    val rnd = new scala.util.Random(11)
    (0 until 300).foreach { _ =>
      val a = keys(rnd.nextInt(keys.length)); val b = keys(rnd.nextInt(keys.length))
      val sa = byDoc(a._1).drop(a._2).mkString(" ")
      val sb = byDoc(b._1).drop(b._2).mkString(" ")
      val (ra, rb) = (got(a), got(b))
      if (sa == sb) assert(ra === rb, s"$a $b equal suffixes, ranks $ra $rb")
      else assert((sa < sb) === (ra < rb), s"$a $b order mismatch")
    }
  }

  test("200k-position LCP probe: sparse-table descent correct on sampled adjacents") {
    // the same 2,000-doc corpus as the suffix-rank probe (planted
    // 25-token shared runs every 10th doc force LONG common prefixes);
    // verify lcp_prev on 300 sampled positions against the locally
    // reconstructed previous-suffix comparison
    val nDocs = 2000
    val docsLocal = (0 until nDocs).map { d =>
      val len = 80 + (d * 31) % 40
      val toks = (0 until len).map { i =>
        if (d % 10 == 0 && i >= 20 && i < 45) s"w${(i * 13) % 97}"
        else s"w${(d * 131 + i * 7919) % 400}"
      }
      (d.toLong, toks.mkString(" "))
    }
    // SPARK_GRAFT_SA_STORE=disk re-prices the probe on the scratch
    // level store (the IO cost of the O(n) block-manager peak) —
    // default stays memory so the suite's wall-clock is unchanged
    val storeMode = sys.env.getOrElse("SPARK_GRAFT_SA_STORE", "memory")
    spark.conf.set(graft.operators.SuffixRank.LevelStorageKey, storeMode)
    val t0 = System.nanoTime()
    val got = try graft.operators.SuffixRank.suffixArrayWithLcp(
        docsLocal.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    finally spark.conf.unset(graft.operators.SuffixRank.LevelStorageKey)
    info(f"200k-position suffix array + LCP ($storeMode store): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    val byDoc = docsLocal.toMap.map { case (d, t) => d -> t.split(" ").toSeq }
    assert(got.size === byDoc.map(_._2.size).sum)
    // reconstruct the global order locally from the returned seq
    val bySeq = got.toArray.map { case (k, (seq, lcp)) => (seq, k, lcp) }
      .sortBy(_._1)
    assert(bySeq.map(_._1).toSeq === bySeq.indices.map(_.toLong))
    val rnd = new scala.util.Random(17)
    (0 until 300).foreach { _ =>
      val i = 1 + rnd.nextInt(bySeq.length - 1)
      val (_, (dc, pc), lcp) = bySeq(i)
      val (_, (dp, pp), _) = bySeq(i - 1)
      val cur = byDoc(dc).drop(pc); val prev = byDoc(dp).drop(pp)
      val want = cur.zip(prev).takeWhile { case (a, b) => a == b }.size.toLong
      assert(lcp === want, s"seq $i: ($dc,$pc) vs ($dp,$pp)")
    }
    // the planted shared runs must surface: some adjacent pair shares
    // a >= 20-token prefix
    assert(bySeq.exists(_._3 >= 20L), "no long repeat found")
  }

  test("20k-corpus incremental near-dup probe: planted delta links all found") {
    // 20,000 corpus docs + a 2,000-doc delta batch: 1,000 exact
    // mirrors (J = 1, LSH-certain) and 1,000 genuinely new docs. The
    // batch joins the corpus via broadcast band buckets; every mirror
    // must link to its source and the new docs must produce nothing.
    val vocabDoc = (d: Long) => (0 until 60).map(i =>
      s"v${(d * 977 + i * 6151) % 50000}").mkString(" ")
    val corpus = (0L until 20000L).map(d => (d, vocabDoc(d)))
      .toDF("doc_id", "text")
    val batch = ((0L until 1000L).map(d => (d + 100000L, vocabDoc(d * 20))) ++
      (0L until 1000L).map(d => (d + 200000L,
        (0 until 60).map(i => s"n${d}_$i").mkString(" "))))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val hits = graft.text.Dedup.crossCorpusNearDups(batch, corpus,
        n = 3, numHashes = 16, bands = 4, minJaccard = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    info(f"20k-corpus cross join: ${(System.nanoTime() - t0) / 1e9}%.1f s, ${hits.length} links")
    val pairSet = hits.map(h => (h._1, h._2)).toSet
    // every planted mirror found its source at J = 1 (LSH-certain).
    // The linear vocab formula also plants SHIFT-ALIASED organic
    // near-dups (doc d1 = doc d2 shifted k positions shares 57/58
    // shingles) — those are genuine J >= 0.9 links, so the check is
    // one-sided: planted ⊆ hits, every hit batch->corpus, and the
    // genuinely-new docs (200000+) link NOTHING.
    val planted = (0L until 1000L).map(d => (d + 100000L, d * 20L)).toSet
    assert(planted.subsetOf(pairSet),
      s"missing ${planted.diff(pairSet).size} planted mirrors")
    hits.foreach { case (b, c, j) =>
      assert(b >= 100000L && b < 101000L, s"non-mirror batch id $b linked")
      assert(c < 20000L && j >= 0.9, s"bad link ($b,$c,$j)")
    }
    // mirrors link at exactly 1.0
    hits.filter(h => planted((h._1, h._2))).foreach(h => assert(h._3 === 1.0))
  }

  test("1200-phrase decontamination probe: one join regardless of set size, " +
      "batch walk == kernel gate") {
    import graft.text.Search
    // 5k synthetic docs over a small vocab so eval 4-grams genuinely
    // recur; eval set = 1200 4-grams sampled deterministically
    val rnd = new scala.util.Random(47)
    val corpus = (0L until 5000L).map { i =>
      i -> (0 until 20 + rnd.nextInt(60))
        .map(_ => s"w${rnd.nextInt(30)}").mkString(" ")
    }
    import spark.implicits._
    val cd = corpus.toDF("doc_id", "text").repartition(16).localCheckpoint()
    val phrases = (0 until 1200).map { p =>
      val r = new scala.util.Random(1000 + p)
      Seq.fill(4)(s"w${r.nextInt(30)}")
    }
    // plan economy holds at 1200 phrases exactly as at 4: ONE posting
    // join + the start-vote aggregate — never a join per phrase
    val occ = Search.phraseOccurrencesBatch(
      Search.buildPositionalIndex(cd), phrases.distinct)
    val plan = occ.queryExecution.optimizedPlan.toString
    assert(plan.split("Join").length - 1 <= 2,
      s"batch walk grew per-phrase joins at 1200 phrases")
    val t0 = System.nanoTime()
    val batchCounts = occ.groupBy("phrase_id", "doc_id").count().collect()
      .map(r => (r.getLong(1), r.getLong(0)) -> r.getLong(2)).toMap
    info(f"batch walk @1200 phrases x 5k docs: " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, ${batchCounts.size} pairs")
    assert(batchCounts.nonEmpty)
    // cross-check against the COMPLETELY INDEPENDENT kernel gate
    // implementation (per-row token walk vs postings join) on a
    // deterministic 1-in-8 document sample
    val t1 = System.nanoTime()
    val sample = cd.filter(col("doc_id") % 8 === 3)
    val gate = Search.phraseSetGate(sample, phrases.distinct).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    info(f"kernel gate @1200 phrases x 625 docs: " +
      f"${(System.nanoTime() - t1) / 1e9}%.1f s")
    val sampleIds = sample.select("doc_id").collect().map(_.getLong(0)).toSet
    gate.foreach { case ((d, p), n) =>
      assert(n === batchCounts.getOrElse((d, p), 0L), s"pair ($d,$p)")
    }
    batchCounts.foreach { case ((d, p), n) =>
      if (sampleIds(d)) assert(gate((d, p)) === n, s"pair ($d,$p) missing")
    }
  }

  test("1500-needle blocklist probe: one automaton pass, plan flat with set size") {
    import graft.text.Blocklist
    // 5k synthetic docs over a small vocab so needles genuinely recur
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 5000L).map { i =>
      i -> (0 until 20 + rnd.nextInt(60))
        .map(_ => s"w${rnd.nextInt(30)}").mkString(" ")
    }
    import spark.implicits._
    val cd = corpus.toDF("doc_id", "text").repartition(16).localCheckpoint()
    // ~1500 distinct needles: cross-token three-word spans plus a
    // deterministic absent tail — the blocklist shape
    val needles = ((0 until 1200).map { p =>
      val r = new scala.util.Random(2000 + p)
      s"w${r.nextInt(30)} w${r.nextInt(30)} w${r.nextInt(30)}"
    } ++ (0 until 300).map(p => s"zq${p}x")).distinct
    // the plan carries ONE kernel expression however large the set is
    // (a per-needle instr spelling would grow the plan 1500-wide)
    val hits = cd.select(col("doc_id"),
      Blocklist.blocklistHitsCol(col("text"), needles).as("h"))
    val plan = hits.queryExecution.optimizedPlan.toString
    assert(plan.split("graft_ac_scan_bcast").length - 1 === 1,
      "expected exactly one kernel expression for the whole set")
    assert(!plan.contains("Join") && !plan.contains("Aggregate"))
    val t0 = System.nanoTime()
    val counts = hits.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    info(f"AC scan @${needles.length} needles x 5k docs: " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    // absent tail is all-zero everywhere; present needles hit somewhere
    val absentFrom = needles.length - 300
    assert(counts.values.forall(_.drop(absentFrom).forall(_ == 0L)))
    assert(counts.values.exists(_.take(absentFrom).exists(_ > 0L)))
    // brute-force byte-walk truth on a deterministic 1-in-50 sample
    def naive(text: String, pat: String): Long = {
      val t = text.getBytes("UTF-8"); val p = pat.getBytes("UTF-8")
      (0 to t.length - p.length)
        .count(s => p.indices.forall(i => t(s + i) == p(i))).toLong
    }
    corpus.filter(_._1 % 50 == 7).foreach { case (id, text) =>
      val got = counts(id)
      needles.zipWithIndex.foreach { case (p, pid) =>
        assert(got(pid) === naive(text, p), s"doc $id needle '$p'") }
    }
    // the REPLACE kernel carries the same one-expression economy at
    // dictionary scale (1480 mappings, one plan node)
    val maps = needles.map(n => n -> s"<${n.take(3)}>")
    val canon = cd.select(col("doc_id"),
      Blocklist.canonicalizeCol(col("text"), maps).as("c"))
    val cPlan = canon.queryExecution.optimizedPlan.toString
    assert(cPlan.split("graft_ac_replace_bcast").length - 1 === 1 &&
      !cPlan.contains("Join"))
    val t1 = System.nanoTime()
    val nRep = canon.select(sum(col("c.n_replaced"))).collect()(0).getLong(0)
    info(f"replace @${maps.length} mappings x 5k docs: " +
      f"${(System.nanoTime() - t1) / 1e9}%.1f s, $nRep replacements")
    assert(nRep > 0L)
  }
}
