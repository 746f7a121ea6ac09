package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaSample, Multimodal}
import graft.vector.Similarity

class SimilaritySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random unit-ish vectors around `center`. */
  private def vec(seed: Int, jitter: Float = 0f): Array[Float] =
    Array.tabulate(8)(d =>
      (((seed * 31 + d * 17) % 13) - 6).toFloat + jitter * ((d % 3) - 1))

  private def emb(rows: (Long, Array[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: exact values on known vectors") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(2f, 4f, 6f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assertClose(out(0), 0.0)
    assertClose(out(1), 1.0)
  }

  test("bruteForceTopK ranks by cosine desc, excludes self") {
    val q = vec(1)
    val near = q.map(x => x * 2f) // cosine 1 with q
    val d = emb(0L -> q, 1L -> near, 2L -> vec(7), 3L -> vec(11))
    val rows = Similarity.bruteForceTopK(d, d.filter(col("vec_id") === 0), k = 3)
      .collect()
    assert(rows.map(_.getAs[Long]("neighbor_id")).head === 1L)
    assert(rows.forall(_.getAs[Long]("query_id") === 0L))
    assert(!rows.map(_.getAs[Long]("neighbor_id")).contains(0L))
    assertClose(rows.head.getAs[Double]("cosine"), 1.0, 1e-6)
    assert(rows.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
  }

  test("lshTopK achieves high recall vs brute force on clustered data") {
    // two tight clusters of 20 vectors each + queries from cluster A
    val rows = (0 until 40).map { i =>
      val base = if (i < 20) vec(1) else vec(97)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    }
    val d = emb(rows: _*)
    val queries = d.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(d, queries, k = 5, vecCol = "embedding")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.lshTopK(d, queries, k = 5, nBits = 16, bands = 8, dim = 8)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("outlierScores: a planted far vector tops its cell's z-scores") {
    // one tight cluster + one vector pushed far along every dimension;
    // per-cell z must rank the planted outlier first and keep the
    // cluster's z-scores small
    val rows = (0 until 30).map { i =>
      val base = vec(1)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    } :+ (99L, vec(1).map(_ + 3.0f))
    val d = emb(rows: _*)
    val cents = graft.vector.Ivf.trainCentroids(d, nCells = 2, iters = 3)
    val out = graft.vector.Embeddings.outlierScores(d, cents)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    assert(out.size === 31)
    val cellOf99 = out(99L)._1
    val peers = out.filter(_._2._1 == cellOf99)
    val z99 = out(99L)._2
    // the planted vector has the maximum z within its cell (cells with
    // a lone member yield null z and are excluded by construction here)
    if (peers.size > 2) {
      assert(z99.isDefined)
      peers.foreach { case (id, (_, z)) =>
        if (id != 99L && z.isDefined) assert(z.get <= z99.get, s"peer $id") }
    }
  }

  test("scoreAgainstStats fails fast when cell moments would overflow Decimal(38,0)") {
    import org.apache.spark.sql.types._
    val assigned = Seq((1L, 0, 5.0)).toDF("id", "cell", "dist")
    def stats(s1: String, s2: String, n: Long) = {
      val schema = StructType(Seq(
        StructField("cell", IntegerType), StructField("n", LongType),
        StructField("__s1", DecimalType(38, 0)),
        StructField("__s2", DecimalType(38, 0))))
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(0, n,
          new java.math.BigDecimal(s1), new java.math.BigDecimal(s2))),
        schema)
    }
    // cool moments: exact z, arithmetic unchanged
    val ok = graft.vector.Embeddings.scoreAgainstStats(
      assigned, stats("30", "500", 10L), "id").collect()
    assert(ok.length === 1 && !ok(0).isNullAt(3))
    // hot s1 (>= 1e18): the regime where non-ANSI decimal multiply used
    // to NULL z silently must now raise in-plan
    val e = intercept[Throwable] {
      graft.vector.Embeddings.scoreAgainstStats(
        assigned, stats("2000000000000000000", "500", 10L), "id").collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("Decimal(38,0)"), msgs)
  }

  test("truncatedTopK: full-corpus shortlist is exactly brute force; prefix shortlist recalls") {
    val rows = (0 until 40).map { i =>
      val base = if (i < 20) vec(1) else vec(97)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    }
    val d = emb(rows: _*)
    val queries = d.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(d, queries, k = 5)
    // shortlist = corpus: the prefix pass prunes nothing, the exact
    // rerank IS brute force — outputs must be identical rows
    val full = Similarity.truncatedTopK(d, queries, prefixDim = 4, k = 5,
      shortlist = 40)
    assert(full.collect().toSeq == bf.collect().toSeq)
    // half-dim prefix, 3x shortlist: high recall on clustered data
    val bfSet = bf.collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val tr = Similarity.truncatedTopK(d, queries, prefixDim = 4, k = 5,
        shortlist = 15)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bfSet.intersect(tr).size.toDouble / bfSet.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("ivfTopK achieves high recall vs brute force on clustered data") {
    val rows = (0 until 60).map { i =>
      val base = vec(Seq(1, 97, 43)(i % 3))
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    }
    val d = emb(rows: _*)
    val queries = d.filter(col("vec_id") < 3)
    val bf = Similarity.bruteForceTopK(d, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val ann = graft.vector.Ivf.ivfTopK(d, queries, k = 5, nCells = 6,
      nProbe = 2, iters = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val recall = bf.intersect(ann).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("ivfTopKFiltered: predicate-first semantics, brute fallback, pushdown") {
    import graft.vector.Ivf
    // labeled clustered corpus: label = i % 2
    val rows = (0 until 60).map { i =>
      val base = vec(Seq(1, 97, 43)(i % 3))
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) }, i % 2)
    }
    val d = rows.toDF("vec_id", "embedding", "label")
    val queries = d.filter(col("vec_id") < 3).drop("label")
    val pred = col("label") === 0

    // full probe (nProbe = nCells) == exact brute force OVER THE
    // SURVIVORS — the filter applies before ranking, so no survivor
    // can be displaced by a filtered-out nearer vector
    val bfSurv = Similarity.bruteForceTopK(d.filter(pred), queries, k = 5)
      .collect().map(_.toSeq).toSeq
    val full = Ivf.ivfTopKFiltered(d, queries, pred, k = 5, nCells = 6,
      nProbe = 6, iters = 4)
      .collect().map(_.toSeq).toSeq
    assert(full === bfSurv, "full-probe filtered search must equal " +
      "brute force over the survivors")
    // every neighbor satisfies the predicate
    val lbl = rows.map(r => r._1 -> r._3).toMap
    assert(full.forall(r => lbl(r(2).asInstanceOf[Long]) === 0))

    // tiny-survivor brute fallback: threshold above the survivor
    // count routes to bruteForceTopK (exact, same rows)
    val viaFallback = Ivf.ivfTopKFiltered(d, queries, pred, k = 5,
      nCells = 6, nProbe = 1, iters = 4, bruteMaxSurvivors = 1000L)
      .collect().map(_.toSeq).toSeq
    assert(viaFallback === bfSurv)

    // the predicate reaches the parquet scan BEFORE any distance work
    val dir = java.nio.file.Files.createTempDirectory("graft-annf").toFile
    try {
      d.write.mode("overwrite").parquet(dir.toString)
      val onDisk = spark.read.parquet(dir.toString)
      val plan = Ivf.ivfTopKFiltered(onDisk, queries, pred, k = 5,
        nCells = 6, nProbe = 2, iters = 4)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("EqualTo(label,0)"),
        s"label predicate not pushed to the scan:\n$plan")
    } finally {
      def rm(f: java.io.File): Unit = {
        val fs = f.listFiles(); if (fs != null) fs.foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("ivfTopK on a corpus smaller than nCells still returns real neighbors") {
    import graft.vector.Ivf
    // 10 vectors, default nCells=16: lloydLocal clamps to 10 trained
    // cells; the probe must use the trained count (phantom cells match
    // nothing and would silently return zero rows)
    val d = emb((0 until 10).map(i => (i.toLong, vec(i % 3))): _*)
    val rows = Ivf.ivfTopK(d, d.filter(col("vec_id") === 0), k = 3).collect()
    assert(rows.nonEmpty, "probe returned no neighbors on a tiny corpus")
    // ids 3, 6, 9 share query 0's exact direction (cosine 1): one of
    // them must rank first
    assert(rows.head.getAs[Long]("neighbor_id") % 3 === 0L)
  }

  test("ivfTopK on an empty corpus returns an empty result, not a crash") {
    import graft.vector.Ivf
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val q = emb(1L -> vec(2))
    val out = Ivf.ivfTopK(empty, q, k = 3)
    assert(out.collect().isEmpty)
    assert(out.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "cosine"))
  }

  test("semDedup accepts pre-trained centroids (external-training escape hatch)") {
    import graft.vector.{Ivf, SemDedup}
    val base = (0 until 8).map(i => (i.toLong, vec(Seq(1, 97)(i % 2))))
    val copies = Seq(10L -> vec(1).map(_ * 1.25f))
    val d = emb((base ++ copies): _*)
    // train on the normalized directions exactly as semDedup would
    val nrm = d.select(col("vec_id"),
      transform(col("embedding"), x =>
        x.cast("double") / sqrt(aggregate(
          transform(col("embedding"), y => y.cast("double") * y.cast("double")),
          lit(0.0), (a, b) => a + b))).as("nv"))
    val c = Ivf.trainCentroids(nrm, nCells = 2, iters = 5, vecCol = "nv")
    val out = SemDedup.semDedup(d, threshold = 0.999, trained = Some(c))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("is_dup"), r.getAs[Long]("keep_id"))).toMap
    assert(out(10L) === ((1L, 0L)))
  }

  test("ivf centroids are deterministic across runs") {
    val rows = (0 until 30).map(i => (i.toLong, vec(i % 7)))
    val d = emb(rows: _*)
    val c1 = graft.vector.Ivf.trainCentroids(d, nCells = 4, iters = 3)
    val c2 = graft.vector.Ivf.trainCentroids(d, nCells = 4, iters = 3)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
  }

  test("hardNegatives: nearest non-positives; IVF full-probe variant is exact") {
    val rows = (0 until 60).map { i =>
      val base = if (i < 30) vec(5) else vec(113)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 11 + d) % 7) - 3) })
    }
    val d = emb(rows: _*)
    // anchors 0..2 in cluster A; declare their nearest brute neighbor
    // a POSITIVE so exclusion is observable
    val brute5 = Similarity.bruteForceTopK(d, d.filter(col("vec_id") < 3),
        k = 1, vecCol = "embedding")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toMap
    val positives = brute5.toSeq.toDF("anchor_id", "positive_id")
    val hard = Similarity.hardNegatives(d, positives, n = 5, margin = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hard.length == 15)
    hard.foreach { case (a, _, neg) =>
      assert(neg != a && brute5(a) != neg, s"anchor $a drew excluded $neg")
    }
    // hard negatives of a cluster-A anchor come from cluster A (the
    // whole point: nearest, not uniform)
    assert(hard.forall(_._3 < 30), "a far-cluster id leaked into the hard set")
    // IVF variant at nProbe = nCells probes every cell => EXACTLY the
    // brute result; below full probe it stays valid and mostly agrees
    val full = Similarity.hardNegativesIvf(d, positives, n = 5, margin = 4,
        nCells = 4, nProbe = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq == hard.toSeq)
    val probed = Similarity.hardNegativesIvf(d, positives, n = 5, margin = 4,
        nCells = 4, nProbe = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    probed.foreach { case (a, neg) =>
      assert(neg != a && brute5(a) != neg)
    }
    val recall = hard.map(t => (t._1, t._3)).toSet
      .intersect(probed.toSet).size.toDouble / 15.0
    assert(recall >= 0.6, s"probed recall $recall")
  }

  test("int8Quantize: codes in range, endpoints exact, error within half-step") {
    val d = emb((0 until 10).map(i => (i.toLong, vec(i))): _*)
    val out = graft.vector.Embeddings.int8Quantize(d).collect()
    assert(out.length === 10 * 8)
    assert(out.forall { r =>
      val c = r.getAs[Long]("code"); c >= 0L && c <= 255L
    })
    // reconstruct and bound the error by step/2 per dimension
    val byDim = d.select(col("vec_id"), posexplode(col("embedding"))
      .as(Seq("dim", "x"))).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getFloat(2).toDouble).toMap
    val dims = byDim.groupBy(_._1._2).map { case (dim, m) =>
      val xs = m.values
      dim -> ((xs.max - xs.min) / 255.0)
    }
    out.foreach { r =>
      val x = byDim((r.getAs[Long]("vec_id"), r.getAs[Int]("dim")))
      val step = dims(r.getAs[Int]("dim"))
      assert(math.abs(r.getAs[Double]("recon") - x) <= step / 2 + 1e-9)
    }
  }

  test("pq adcTopK keeps neighbors inside the query's cluster") {
    // three well-separated clusters; ADC distances must rank same-cluster
    // vectors ahead of the rest for every query
    val rows = (0 until 60).map { i =>
      val base = vec(Seq(1, 97, 43)(i % 3))
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    }
    val d = emb(rows: _*)
    val books = graft.vector.Pq.trainCodebooks(d, dim = 8, m = 2, k = 4,
      iters = 3)
    val out = graft.vector.Pq.adcTopK(d, d.filter(col("vec_id") < 3), books,
      dim = 8, k = 5).collect()
    assert(out.length === 15)
    out.foreach { r =>
      val q = r.getAs[Long]("query_id"); val n = r.getAs[Long]("neighbor_id")
      assert(q % 3 === n % 3,
        s"query $q got out-of-cluster neighbor $n at rank ${r.getAs[Long]("rank")}")
    }
  }

  test("ivfAdcTopK matches adcTopK on probed-cell neighbors") {
    val rows = (0 until 60).map { i =>
      val base = vec(Seq(1, 97, 43)(i % 3))
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) })
    }
    val d = emb(rows: _*)
    val q = d.filter(col("vec_id") < 3)
    val coarse = graft.vector.Ivf.trainCentroids(d, nCells = 6, iters = 4)
    val books = graft.vector.Pq.trainResidualCodebooks(d, coarse, dim = 8,
      m = 2, k = 4, iters = 3)
    // probing every cell makes IVFADC candidate-complete, and
    // rerank=12 makes the shortlist (60) cover every candidate (59) —
    // so the exact-cosine rerank must reproduce brute force top-k
    // bitwise (same formula, rounding, and tie-breaks)
    val full = graft.vector.Pq.ivfAdcTopK(d, q, coarse, books, dim = 8,
      k = 5, nProbe = 6, rerank = 12).collect().map(_.toSeq).toSeq
    val bf = Similarity.bruteForceTopK(d, q, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(full === bf)
    // with 2 probes the results stay in-cluster
    val pruned = graft.vector.Pq.ivfAdcTopK(d, q, coarse, books, dim = 8,
      k = 5, nProbe = 2).collect()
    pruned.foreach { r =>
      assert(r.getAs[Long]("query_id") % 3 === r.getAs[Long]("neighbor_id") % 3)
    }
  }

  test("pq codes are deterministic across runs") {
    val rows = (0 until 30).map(i => (i.toLong, vec(i % 7, jitter = 0.2f)))
    val d = emb(rows: _*)
    val b1 = graft.vector.Pq.trainCodebooks(d, dim = 8, m = 2, k = 4)
    val b2 = graft.vector.Pq.trainCodebooks(d, dim = 8, m = 2, k = 4)
    assert(b1.map(_.map(_.toSeq).toSeq).toSeq === b2.map(_.map(_.toSeq).toSeq).toSeq)
    val c1 = graft.vector.Pq.encode(d, b1, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val c2 = graft.vector.Pq.encode(d, b2, dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 === c2)
  }

  test("semDedup flags scaled copies, keeps the lowest id, spares the rest") {
    // two direction-clusters plus exact scaled copies of ids 0 and 1
    val base = (0 until 8).map(i => (i.toLong, vec(Seq(1, 97)(i % 2))))
    val copies = Seq(10L -> vec(1).map(_ * 1.25f), 11L -> vec(97).map(_ * 0.5f))
    val d = emb((base ++ copies): _*)
    val out = graft.vector.SemDedup.semDedup(d, nCells = 2, threshold = 0.999)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("is_dup"), r.getAs[Long]("keep_id"))).toMap
    assert(out(10L) === ((1L, 0L)))
    assert(out(11L) === ((1L, 1L)))
    // originals 0/1 are themselves duplicated by 2..7? ids 2,4,6 share
    // cluster 1's direction exactly (same seed) so they dedup onto 0 —
    // the invariant to pin is: every flagged dup keeps a LOWER id, and
    // nothing keeps a flagged dup
    val dups = out.filter(_._2._1 == 1L)
    assert(dups.forall { case (id, (_, keep)) => keep < id })
    assert(out(0L)._1 === 0L && out(1L)._1 === 0L)
  }

  test("semDedup verdict is deterministic across runs") {
    val rows = (0 until 20).map(i => (i.toLong, vec(i % 5, jitter = 0.1f)))
    val d = emb(rows: _*)
    val r1 = graft.vector.SemDedup.semDedup(d, nCells = 4, threshold = 0.9)
      .collect().map(_.toSeq).toSeq
    val r2 = graft.vector.SemDedup.semDedup(d, nCells = 4, threshold = 0.9)
      .collect().map(_.toSeq).toSeq
    assert(r1 === r2)
  }

  test("semDedup auto-scales nCells from the corpus size") {
    import graft.vector.SemDedup
    // mean cell population ~targetCellSize, floored at 16
    assert(SemDedup.autoCells(1000L, 20000L) === 16)
    assert(SemDedup.autoCells(320000L, 20000L) === 16)
    assert(SemDedup.autoCells(1000000L, 20000L) === 50)
    // no ceiling: counts past MaxAutoCells switch the training VENUE to
    // the distributed Lloyd rather than clamping the cell count
    assert(SemDedup.autoCells(100000000L, 20000L) === 5000)
    assert(SemDedup.autoCells(100000000L, 20000L) > SemDedup.MaxAutoCells)
    // end-to-end under the auto default (nCells <= 0): verdicts still
    // correct on a small corpus (floor of 16 cells kicks in)
    val base = (0 until 8).map(i => (i.toLong, vec(Seq(1, 97)(i % 2))))
    val copies = Seq(10L -> vec(1).map(_ * 1.25f))
    val d = emb((base ++ copies): _*)
    val out = SemDedup.semDedup(d, threshold = 0.999)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("is_dup"), r.getAs[Long]("keep_id"))).toMap
    assert(out(10L) === ((1L, 0L)))
  }

  test("distributed Lloyd is bitwise identical to the driver-array Lloyd") {
    import graft.vector.Ivf
    // same corpus, same subsample (rate<=1: whole corpus), two venues
    val rows = (0 until 120).map(i => (i.toLong, vec(Seq(1, 97, 43)(i % 3),
      jitter = 0.2f)))
    val d = emb(rows: _*)
    val local = Ivf.trainCentroids(d, nCells = 16, iters = 4)
    val dist = Ivf.trainCentroidsDistributed(d, nCells = 16, iters = 4)
    assert(local.length === dist.length)
    (local zip dist).zipWithIndex.foreach { case ((l, r), c) =>
      assert(l.toSeq === r.toSeq, s"centroid $c differs between venues")
    }
  }

  test("semDedup auto-trains distributed past the MaxAutoCells venue switch") {
    import graft.vector.SemDedup
    // targetCellSize=1 over >2048 vectors pushes autoCells past the
    // driver-array budget -> the distributed Lloyd trains the quantizer.
    // Scaled copies normalize onto their originals (identical quantized
    // direction -> identical cell under any centroid set), so the
    // verdict must still flag the planted copies. Directions repeat
    // every 211 ids (hash modulus), so 7 and 97 are the MINIMUM ids of
    // their direction classes — their copies must collapse onto them.
    val n = 2100
    val base = (0 until n).map(i => (i.toLong,
      Array.tabulate(8)(d => (((i * 31 + d * 17) % 211) - 105).toFloat)))
    val copies = Seq(5000L -> base(7)._2.map(_ * 1.25f),
      5001L -> base(97)._2.map(_ * 2f))
    val d = emb((base ++ copies): _*)
    val out = SemDedup.semDedup(d, threshold = 0.999, targetCellSize = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("is_dup"), r.getAs[Long]("keep_id"))).toMap
    assert(out.size === n + 2)
    assert(out(7L) === ((0L, 7L)))
    assert(out(97L) === ((0L, 97L)))
    assert(out(5000L) === ((1L, 7L)))
    assert(out(5001L) === ((1L, 97L)))
  }

  test("ANN recall@10 floors vs brute force on the sf0.001 embeddings") {
    import graft.vector.{Ivf, Pq}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bf = pairs(Similarity.bruteForceTopK(e, q, k = 10))
    def recall(ann: Set[(Long, Long)]): Double =
      bf.intersect(ann).size.toDouble / bf.size
    // the production parameterizations (q_ann_* queries); floors pin the
    // probe/band tuning so a regression in candidate generation is caught
    val rLsh = recall(pairs(Similarity.lshTopK(e, q, k = 10,
      nBits = 16, bands = 8, dim = 64)))
    val rIvf = recall(pairs(Ivf.ivfTopK(e, q, k = 10, nCells = 16, nProbe = 4)))
    val coarse = Ivf.trainCentroids(e, nCells = 16, iters = 5)
    val books = Pq.trainResidualCodebooks(e, coarse, dim = 64, m = 8,
      k = 16, iters = 3)
    val rIvfAdc = recall(pairs(Pq.ivfAdcTopK(e, q, coarse, books,
      dim = 64, k = 10, nProbe = 4)))
    val rAdcOnly = recall(pairs(Pq.ivfAdcTopK(e, q, coarse, books,
      dim = 64, k = 10, nProbe = 4, rerank = 0)))
    val rIvfAdc6 = recall(pairs(Pq.ivfAdcTopK(e, q, coarse, books,
      dim = 64, k = 10, nProbe = 6)))
    val rIvfAdc8 = recall(pairs(Pq.ivfAdcTopK(e, q, coarse, books,
      dim = 64, k = 10, nProbe = 8)))
    // raw-vector codes at the same byte budget, for the residual delta
    val rawBooks = Pq.trainCodebooks(e, dim = 64, m = 8, k = 16, iters = 3)
    val rAdcOnlyRaw = recall(pairs(Pq.ivfAdcTopK(e, q, coarse, rawBooks,
      dim = 64, k = 10, nProbe = 4, rerank = 0)))
    info(f"recall@10 lsh=$rLsh%.3f ivf=$rIvf%.3f ivfadc=$rIvfAdc%.3f " +
      f"ivfadc@6=$rIvfAdc6%.3f ivfadc@8=$rIvfAdc8%.3f adcOnly=$rAdcOnly%.3f (raw $rAdcOnlyRaw%.3f)")
    // measured on this fixture with RESIDUAL codes (Jégou 2011):
    // lsh 0.895, ivf 0.820 (= the nProbe=4 candidate ceiling),
    // ivfadc 0.805@4 (raw codes gave 0.795), 0.835@6, 0.865@8,
    // adc-only 0.400 vs 0.405 raw — on this small weakly-clustered
    // corpus residual and raw code distortion are at parity (the
    // residual win grows with cell tightness, i.e. cells >> 16); the
    // rerank path is where the measurable lift lands
    assert(rLsh >= 0.75, f"LSH recall $rLsh%.3f below floor")
    assert(rIvf >= 0.70, f"IVF recall $rIvf%.3f below floor")
    assert(rIvfAdc >= 0.70, f"IVFADC rerank recall $rIvfAdc%.3f below floor")
    assert(rIvfAdc6 >= 0.80, f"IVFADC nProbe=6 recall $rIvfAdc6%.3f below floor")
    assert(rIvfAdc8 >= 0.85, f"IVFADC nProbe=8 recall $rIvfAdc8%.3f below floor")
    assert(rAdcOnly >= 0.25, f"ADC-only recall $rAdcOnly%.3f below floor")
    assert(rAdcOnly >= rAdcOnlyRaw - 0.05,
      f"residual codes ($rAdcOnly%.3f) must stay within tolerance of raw ($rAdcOnlyRaw%.3f)")
  }

  test("recallCard: monotone in nProbe, exact at full probe, zero-hit arms kept") {
    import graft.vector.Ivf
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val cents = Ivf.trainCentroids(e, nCells = 16, iters = 5)
    val truth = Similarity.bruteForceTopK(e, q, k = 10)
    val sweep = Seq(1, 2, 4, 8, 16).map(p => ("ivf", p.toLong,
      Ivf.ivfTopK(e, q, k = 10, nCells = 16, nProbe = p,
        trained = Some(cents))))
    val card = Ivf.recallCard(truth,
        sweep :+ (("empty", 0L, truth.filter(lit(false)))))
      .orderBy("arm", "n_probe").collect()
    val byArm = card.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getAs[Long]("n_hits"), r.getAs[Long]("recall_micro"))).toMap
    // with the exact rerank, a probe superset can only add truth hits
    val sweepRecalls = Seq(1L, 2L, 4L, 8L, 16L).map(p =>
      byArm(("ivf", p))._2)
    assert(sweepRecalls === sweepRecalls.sorted,
      s"recall not monotone in nProbe: $sweepRecalls")
    // probing every trained cell IS brute force: recall exactly 1
    assert(byArm(("ivf", 16L))._2 === 1000000L)
    // denominator = |sample| x k, and a dead arm still gets its row
    assert(card.head.getAs[Long]("n_truth") === 200L)
    assert(byArm(("empty", 0L)) === ((0L, 0L)))
  }

  test("rerankRecallCard + tuneRerank: monotone in the multiplier, " +
      "tuner picks the cheapest meeting the target") {
    import graft.vector.{Ivf, Pq}
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val cents = Ivf.trainCentroids(e, nCells = 16, iters = 5)
    val books = Pq.trainResidualCodebooks(e, cents, dim = 64, m = 8,
      k = 16, iters = 3)
    val truth = Similarity.bruteForceTopK(e, q, k = 10)
    val sweep = Seq(1, 2, 4, 8).map(r => ("ivfadc", r.toLong,
      Pq.ivfAdcTopK(e, q, cents, books, dim = 64, k = 10, nProbe = 4,
        rerank = r)))
    val card = Ivf.rerankRecallCard(truth, sweep)
    val rows = card.orderBy("rerank").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(1L, 2L, 4L, 8L))
    // a larger multiplier shortlists a candidate SUPERSET, and the
    // exact rerank keeps every truth hit a superset contains
    val recalls = rows.map(_.getAs[Long]("recall_micro")).toSeq
    assert(recalls === recalls.sorted,
      s"recall not monotone in rerank: $recalls")
    // the tuner: cheapest multiplier meeting an achievable target...
    val achievable = recalls.head // rerank=1's recall is always achievable
    val pick = Ivf.tuneRerank(card, achievable).collect().head
    assert(pick.getAs[Long]("rerank") === 1L &&
      pick.getAs[Boolean]("target_met"))
    // ...and best-effort MAX multiplier when nothing meets the target
    if (recalls.last < 1000000L) {
      val over = Ivf.tuneRerank(card, 1000000L).collect().head
      assert(over.getAs[Long]("rerank") === 8L &&
        !over.getAs[Boolean]("target_met"))
    }
  }

  test("cosineNearDups finds planted duplicate pair only") {
    val a = vec(5)
    val dup = a.map(x => x * 1.001f)
    val d = emb(1L -> a, 2L -> dup, 3L -> vec(23), 4L -> vec(41))
    val rows = Similarity.cosineNearDups(d, minCosine = 0.999, nBits = 8,
      bands = 8, dim = 8).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("multimodal: synthetic corpus rows are genuine decodable P6 images") {
    implicit val s = spark
    val docs = Seq((1L, "hello media world"), (2L, "other content")).toDF("doc_id", "text")
    val rows = Multimodal.syntheticCorpus(docs).as[MediaSample].collect()
      .sortBy(_.sample_id)
    rows.foreach { r =>
      val img = graft.multimodal.Ppm.decode(r.content)
      assert(img.isDefined, s"sample ${r.sample_id} did not decode as P6")
      assert(img.get.width === r.width && img.get.height === r.height,
        "metadata geometry disagrees with the decoded grid")
      // pixel payload is the document bytes cyclically filled
      val base = (Seq("hello media world", "other content")(r.sample_id.toInt - 1) + ".")
        .getBytes("UTF-8")
      val px = img.get.pixels
      assert(px.indices.forall(i => px(i) === base(i % base.length)))
    }
  }

  test("audioEnergyWindows: exact window energies, silence verdicts, audio-only") {
    implicit val s = spark
    def sample(id: Long, bytes: Array[Byte], modality: String = "audio") =
      MediaSample(id, modality,
        if (modality == "audio")
          graft.multimodal.Wav.encode(
            graft.multimodal.Wav.Audio(8000, 1, 8, bytes))
        else bytes,
        0, 0, 8000, 0)
    // 8-bit PCM centered at 128: two loud windows (amp ±100), one
    // silent (amp ±2), one PARTIAL final window of 2 samples
    val loud = Array.fill[Byte](8)(228.toByte) ++ Array.fill[Byte](8)(28.toByte)
    val quiet = Array.fill[Byte](8)(130.toByte)
    val tail = Array[Byte](228.toByte, 130.toByte)
    val ds = Seq(
      sample(1L, loud ++ quiet ++ tail),
      sample(2L, Array[Byte](1, 2, 3), modality = "image") // not WAV
    ).toDS()
    val out = Multimodal.audioEnergyWindows(ds, windowSamples = 8,
        silenceMeanSquare = 100L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getLong(3), r.getBoolean(4)))).toMap
    // non-audio content yields no rows at all
    assert(out.keys.map(_._1).toSet === Set(1L))
    assert(out((1L, 0)) === ((8, 8L * 100 * 100, false)))
    assert(out((1L, 1)) === ((8, 8L * 100 * 100, false)))
    assert(out((1L, 2)) === ((8, 8L * 2 * 2, true)))
    // partial window: 100^2 + 2^2 over n=2, mean 5002 -> not silent
    assert(out((1L, 3)) === ((2, 100L * 100 + 4, false)))
  }

  test("audioTrim: silence bounds, re-encoded kept span, all-silent drop") {
    implicit val s = spark
    def wav(bytes: Array[Byte]) = graft.multimodal.Wav.encode(
      graft.multimodal.Wav.Audio(8000, 1, 8, bytes))
    def sample(id: Long, content: Array[Byte], modality: String = "audio") =
      MediaSample(id, modality, content, 0, 0, 8000, 0)
    val loud = Array.fill[Byte](8)(228.toByte)
    val quiet = Array.fill[Byte](8)(130.toByte)
    val ds = Seq(
      // silent, loud, silent, loud, silent -> trim to windows 1..3
      sample(1L, wav(quiet ++ loud ++ quiet ++ loud ++ quiet)),
      // all silent -> dropped
      sample(2L, wav(quiet ++ quiet)),
      // loud PARTIAL last window -> trim_end = true length, not padded
      sample(3L, wav(quiet ++ Array[Byte](228.toByte, 228.toByte))),
      sample(4L, Array[Byte](1, 2, 3), modality = "image") // not WAV
    ).toDS()
    val out = Multimodal.audioTrim(ds, windowSamples = 8,
        silenceMeanSquare = 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getAs[Array[Byte]](6)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    val (nw1, k1, ts1, te1, nk1, p1) = out(1L)
    assert((nw1, k1, ts1, te1, nk1) === ((5, true, 8L, 32L, 24L)))
    // payload decodes back to exactly the kept bytes
    val back = graft.multimodal.Wav.decode(p1).get
    assert(back.data.toSeq === (loud ++ quiet ++ loud).toSeq)
    val (nw2, k2, ts2, te2, nk2, p2) = out(2L)
    assert((nw2, k2, ts2, te2, nk2) === ((2, false, 0L, 0L, 0L)))
    assert(p2.isEmpty)
    val (nw3, k3, ts3, te3, nk3, p3) = out(3L)
    assert((nw3, k3, ts3, te3, nk3) === ((2, true, 8L, 10L, 2L)))
    assert(graft.multimodal.Wav.decode(p3).get.data.toSeq ===
      Seq(228.toByte, 228.toByte))
  }

  test("multimodal: feature extraction is deterministic and decodes for real") {
    implicit val s = spark
    val docs = Seq((1L, "hello media world"), (2L, "other content")).toDF("doc_id", "text")
    val samples = Multimodal.syntheticCorpus(docs).as[MediaSample]
    val f1 = Multimodal.extractFeatures(samples, dim = 16).collect().sortBy(_.sample_id)
    val f2 = Multimodal.extractFeatures(samples, dim = 16).collect().sortBy(_.sample_id)
    assert(f1.length === 2)
    assert(f1.forall(_.decoded), "P6 content must take the real decode path")
    assert(f1.forall(_.features.length === 16))
    assert(f1.map(_.features.toSeq) === f2.map(_.features.toSeq)) // deterministic
    assert(f1(0).features.toSeq !== f1(1).features.toSeq) // content-sensitive
    assert(f1.map(_.modality).toSet.subsetOf(Set("image", "audio", "video")))
    // histogram buckets (features 4..15) sum to ~1: every pixel counted
    f1.foreach { f =>
      assert(math.abs(f.features.drop(4).map(_.toDouble).sum - 1.0) < 1e-6)
    }
  }

  test("multimodal: frame sampling returns real pixel rows of the grid") {
    implicit val s = spark
    val docs = Seq((7L, "a reasonably long body of encoded content bytes here"))
      .toDF("doc_id", "text")
    val corpus = Multimodal.syntheticCorpus(docs).as[MediaSample]
    val sample = corpus.collect().head
    val img = graft.multimodal.Ppm.decode(sample.content).get
    val frames = Multimodal.sampleFrames(corpus, n = 4).collect()
      .sortBy(_.frame_idx)
    assert(frames.length === 4)
    assert(frames.forall(_.decoded))
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 1, 2, 3))
    // frame i IS pixel row floor(i*(h-1)/3) of the decoded grid
    frames.foreach { f =>
      val row = (f.frame_idx.toLong * (img.height - 1) / 3).toInt
      val expected = img.pixels.slice(row * img.width * 3, (row + 1) * img.width * 3)
      assert(f.frame.toSeq === expected.toSeq)
    }
    // opaque (non-P6) content falls back to byte windows
    val opaque = Seq(MediaSample(9L, "audio", Array.fill[Byte](64)(3), 0, 0, 16000, 10))
      .toDS()
    val fb = Multimodal.sampleFrames(opaque, n = 2, frameBytes = 8).collect()
    assert(fb.length === 2 && fb.forall(!_.decoded) &&
      fb.forall(_.frame.length === 8))
  }

  test("multimodal: resize genuinely rescales the decoded pixel grid") {
    implicit val s = spark
    val docs = Seq((3L, "x" * 100)).toDF("doc_id", "text")
    val base = Multimodal.syntheticCorpus(docs).as[MediaSample]
    val out = Multimodal.resize(base, 16, 16).collect().head
    assert(out.width === 16 && out.height === 16)
    val img = graft.multimodal.Ppm.decode(out.content)
    assert(img.isDefined, "resized content must still decode as P6")
    assert(img.get.width === 16 && img.get.height === 16)
    assert(img.get.pixels.length === 16 * 16 * 3)
    // opaque content keeps the documented proportional-truncation stub
    val opaque = Seq(MediaSample(9L, "video", Array.fill[Byte](100)(7), 10, 10, 0, 10))
      .toDS()
    val fb = Multimodal.resize(opaque, 5, 5).collect().head
    assert(fb.content.length === 25 && !graft.multimodal.Ppm.decode(fb.content).isDefined)
  }

  test("centroids: exact per-group means, long and array forms agree") {
    import graft.vector.Embeddings
    val d = Seq(
      (1L, Array(1f, 3f), "a"), (2L, Array(3f, 5f), "a"), (3L, Array(10f, 0f), "b"))
      .toDF("vec_id", "embedding", "label")
    val long = Embeddings.centroidsLong(d).collect()
      .map(r => ((r.getAs[String]("group"), r.getAs[Int]("dim")),
        (r.getAs[Double]("value"), r.getAs[Long]("n_vecs")))).toMap
    assert(long(("a", 0)) === ((2.0, 2L)))
    assert(long(("a", 1)) === ((4.0, 2L)))
    assert(long(("b", 0)) === ((10.0, 1L)))
    val arr = Embeddings.centroids(d).collect()
      .map(r => r.getAs[String]("group") -> r.getAs[Seq[Double]]("centroid")).toMap
    assert(arr("a") === Seq(2.0, 4.0))
    assert(arr("b") === Seq(10.0, 0.0))
  }

  test("knnClassify: majority label of nearest neighbors wins") {
    import graft.vector.Embeddings
    // cluster A around vec(1) labeled 0, cluster B around vec(97) labeled 1
    val rows = (0 until 30).map { i =>
      val base = if (i < 15) vec(1) else vec(97)
      (i.toLong, base.zipWithIndex.map { case (x, d) =>
        x + 0.01f * (((i * 7 + d) % 5) - 2) }, if (i < 15) 0 else 1)
    }
    val d = rows.toDF("vec_id", "embedding", "label")
    val queries = d.filter(col("vec_id").isin(0L, 20L))
    val out = Embeddings.knnClassify(d, queries, k = 5).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Int]("pred_label")).toMap
    assert(out === Map(0L -> 0, 20L -> 1))
  }

  test("broadcast and literal cell-distance forms are bitwise identical at 10k cells") {
    import graft.vector.Ivf
    val dim = 32
    val nCells = 10000
    assert(nCells.toLong * dim > Ivf.BcastThreshold,
      "test matrix must sit above the broadcast threshold")
    val centroids = Array.tabulate(nCells)(i =>
      Array.tabulate(dim)(j => ((i * 31 + j * 17) % 255).toDouble))
    val vecs = spark.range(0, 64).selectExpr("id AS vec_id",
      s"transform(sequence(0, ${dim - 1}), " +
        "j -> cast((id * 13 + j * 7) % 255 AS float)) AS embedding")
    def dists(f: (org.apache.spark.sql.Column, Array[Array[Double]]) =>
        org.apache.spark.sql.Column): Array[(Long, Seq[Double])] =
      vecs.select(col("vec_id"), f(col("embedding"), centroids).as("d"))
        .orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val lit = dists(Ivf.cellDistsLiteral)
    val bca = dists(Ivf.cellDistsBcast)
    assert(lit.length === bca.length)
    lit.zip(bca).foreach { case ((idL, dL), (idB, dB)) =>
      assert(idL === idB)
      assert(dL === dB) // element-exact double equality (codegen path)
    }
    // interpreted eval of the broadcast form matches the codegen'd run
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val bcHandle = spark.sparkContext.broadcast(centroids)
    val row7 = Array.tabulate(dim)(j => ((7 * 13 + j * 7) % 255).toFloat)
    val interp = graft.functions.CellDistsBcast(
        Literal.create(row7, ArrayType(FloatType)), bcHandle)
      .eval(null).asInstanceOf[ArrayData].toDoubleArray.toSeq
    assert(interp === lit(7)._2)
    // the auto-selector routes a 10k-cell distance table to the
    // broadcast form
    val plan = vecs.select(Ivf.quantizedDists(col("embedding"), centroids))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_l2sq_cells_bcast"),
      "cellDists did not select the broadcast form above the threshold")
    // cell assignment runs the fused kernel over the broadcast handle,
    // never a centroid literal, at any cell count
    val cellPlan = vecs.select(Ivf.cellOf(col("embedding"), centroids))
      .queryExecution.executedPlan.toString
    assert(cellPlan.contains("graft_nearest_cell") &&
      cellPlan.contains("Broadcast(") && cellPlan.length < (1 << 14),
      "cellOf did not run the broadcast-backed fused kernel")
  }

  test("multimodal: planted WAV rows take the real audio decode path") {
    implicit val s = spark
    import graft.multimodal.Wav
    // a 16-bit mono ramp and an 8-bit stereo row, planted among opaque
    // bytes no in-container codec covers
    val ramp = Array.tabulate(64)(i => (i - 32) * 1000)
    val wav16 = Wav.encode(Wav.Audio(16000, 1, 16,
      ramp.flatMap(v => Seq((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte))))
    val wav8 = Wav.encode(Wav.Audio(8000, 2, 8,
      Array.tabulate[Byte](32)(i => (i * 8).toByte)))
    val rows = Seq(
      MediaSample(1L, "audio", wav16, 0, 0, 16000, 4),
      MediaSample(2L, "audio", wav8, 0, 0, 8000, 4),
      MediaSample(3L, "audio", Array.fill[Byte](50)(9), 0, 0, 16000, 4)).toDS()
    val feats = Multimodal.extractFeatures(rows, dim = 12).collect()
      .sortBy(_.sample_id)
    assert(feats.map(_.decoded).toSeq === Seq(true, true, false),
      "WAV rows must decode for real; opaque bytes must keep the stub")
    // real statistics: the ramp's extremes and full histogram mass
    val f = feats(0).features
    assert(math.abs(f(2) - (-32000.0 / 32768)) < 1e-6)
    assert(math.abs(f(3) - (31000.0 / 32768)) < 1e-6)
    assert(math.abs(f.drop(4).map(_.toDouble).sum - 1.0) < 1e-6)
    // frames: sample-frame-aligned windows of the DECODED data chunk
    val frames = Multimodal.sampleFrames(rows.filter(_.sample_id == 1L),
      n = 3, frameBytes = 10).collect().sortBy(_.frame_idx)
    assert(frames.length === 3 && frames.forall(_.decoded))
    assert(frames.forall(_.frame.length === 10)) // 5 whole 16-bit samples
    val audio = Wav.decode(wav16).get
    assert(frames(0).frame.toSeq === audio.data.take(10).toSeq)
  }

  test("multimodal: planted Y4M rows take the real video decode path") {
    implicit val s = spark
    import graft.multimodal.Y4m
    // a five-frame 4x2 4:2:0 stream planted among opaque bytes
    val vid = Y4m.Video(4, 2, 30, 1, "420",
      Array.tabulate(5)(fi => Array.tabulate[Byte](12)(i =>
        (fi * 50 + i).toByte)))
    val rows = Seq(
      MediaSample(1L, "video", Y4m.encode(vid), 4, 2, 0, 166),
      MediaSample(2L, "video", Array.fill[Byte](60)(5), 0, 0, 0, 10)).toDS()
    val feats = Multimodal.extractFeatures(rows, dim = 12).collect()
      .sortBy(_.sample_id)
    assert(feats.map(_.decoded).toSeq === Seq(true, false),
      "Y4M rows must decode for real; opaque bytes must keep the stub")
    assert(feats(0).features.toSeq ===
      Y4m.featurize(vid, 12).toSeq) // real frame statistics
    // frames: n=3 evenly spaced ACTUAL stream frames (0, 2, 4)
    val frames = Multimodal.sampleFrames(rows.filter(_.sample_id == 1L), n = 3)
      .collect().sortBy(_.frame_idx)
    assert(frames.length === 3 && frames.forall(_.decoded))
    assert(frames.map(_.frame.toSeq).toSeq ===
      Seq(0, 2, 4).map(vid.frames(_).toSeq))
    // resize: every frame genuinely rescaled, still a decodable stream
    val out = Multimodal.resize(rows.filter(_.sample_id == 1L), 8, 4)
      .collect().head
    assert(out.width === 8 && out.height === 4)
    val back = Y4m.decode(out.content).get
    assert(back.width === 8 && back.height === 4 && back.numFrames === 5)
    assert(back.frames.map(_.toSeq).toSeq ===
      Y4m.resizeNearest(vid, 8, 4).frames.map(_.toSeq).toSeq)
  }
}
