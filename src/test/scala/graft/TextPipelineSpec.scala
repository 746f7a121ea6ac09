package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Dedup, TextStats}

class TextPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("exactDuplicates groups identical content, keeps min id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exactDuplicates(d).collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_docs"))).toSet
    assert(out === Set((1L, 2L), (3L, 1L)))
  }

  test("jaccardPairs computes exact trigram jaccard") {
    // doc1: shingles {a b c, b c d, c d e}; doc2 shares {b c d, c d e} + {d e f}
    val d = docs(1L -> "a b c d e", 2L -> "b c d e f", 3L -> "q r s t u")
    val rows = Dedup.jaccardPairs(d, n = 3, minJaccard = 0.1).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assertClose(r.getAs[Double]("jaccard"), 2.0 / 4.0)
  }

  test("jaccardPairs df cap drops ubiquitous shingles") {
    // shared shingle "a b c" in all 4 docs: with maxDf=3 it is dropped,
    // so no pair reaches the threshold.
    val d = docs(1L -> "a b c", 2L -> "a b c x", 3L -> "a b c y", 4L -> "a b c z")
    assert(Dedup.jaccardPairs(d, n = 3, minJaccard = 0.1, maxDf = 3).count() === 0)
  }

  test("minHashNearDups finds near-identical docs and skips unrelated ones") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 38).map(i => s"tok$i").mkString(" ") // drop last 2 tokens
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = docs(1L -> base, 2L -> near, 3L -> far)
    val rows = Dedup.minHashNearDups(d, n = 3, numHashes = 16, bands = 4,
      minJaccard = 0.5).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("doc_a") === 1L)
    assert(rows.head.getAs[Long]("doc_b") === 2L)
    // doc1 has 38 trigrams, doc2 has 36 (all shared): J = 36 / 38
    assertClose(rows.head.getAs[Double]("jaccard"), 36.0 / 38.0)
  }

  test("minHashNearDups recalls every planted J >= 0.9 pair at 16 bands of 4") {
    // 1000 documents of 60-120 random words, each beside a near copy
    // with one word changed: 3-shingle Jaccard >= 0.9. Independent
    // hash functions miss such a pair with probability under
    // (1 - 0.9^4)^16 < 1e-7, so every pair must come back; a dependent
    // family (each hash a multiple of the first mod P) misses a few
    // per thousand.
    val rnd = new scala.util.Random(11)
    val nPairs = 1000
    val pairs = (0 until nPairs).map { i =>
      val t = Vector.fill(60 + rnd.nextInt(61))(s"w${rnd.nextInt(5000)}")
      (t, t.updated(rnd.nextInt(t.length), s"x$i"))
    }
    def shingles(t: Vector[String]) = t.sliding(3).map(_.mkString(" ")).toSet
    pairs.foreach { case (t, u) =>
      val (a, b) = (shingles(t), shingles(u))
      assert((a & b).size.toDouble / (a | b).size >= 0.9, "fixture")
    }
    val d = pairs.zipWithIndex.flatMap { case ((t, u), i) =>
      Seq((2L * i, t.mkString(" ")), (2L * i + 1L, u.mkString(" ")))
    }.toDF("doc_id", "text")
    val found = Dedup.minHashNearDups(d, n = 3, numHashes = 64, bands = 16,
        minJaccard = 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = (0 until nPairs).map(i => (2L * i, 2L * i + 1L))
      .filterNot(found)
    assert(missed.isEmpty,
      s"${missed.length} of $nPairs planted pairs missed: ${missed.take(5)}")
  }

  test("duplicateClusters: min-label connected components over pairs") {
    import spark.implicits._
    // chain 1-2-3 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = graft.text.Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters matches union-find on random graphs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 40).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val out = graft.text.Dedup.duplicateClusters(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find with min-id representative
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.foreach(nd => assert(out(nd) === find(nd), s"node $nd"))
    assert(out.keySet === nodes.toSet)
  }

  test("crossCorpusNearDups: batch-vs-corpus links only, never within a side") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    // corpus contains an INTERNAL exact dup pair (1, 2) — the cross
    // join must not surface it; batch doc 10 near-dups doc 1, batch
    // doc 11 is unrelated, and batch docs 10/12 are near-dups of each
    // other — also not surfaced (batch-internal)
    val corpus = Seq((1L, base), (2L, base),
      (3L, "completely different text about nothing shared at all " +
        "with the base document corpus entry here")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base), // exact re-crawl: J = 1, always LSH-caught
      (11L, "fresh new content never seen before in any corpus document " +
        "entirely novel words everywhere"),
      (12L, base + " appended")).toDF("doc_id", "text")
    // 2-wide bands: collision prob per band J^2, 8 bands — the J~0.9
    // appended case is recalled with near-certainty and deterministically
    // (fixed hash family: the outcome is a constant of the data)
    val out = graft.text.Dedup.crossCorpusNearDups(batch, corpus,
        n = 3, numHashes = 16, bands = 8, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === Set((10L, 1L), (10L, 2L), (12L, 1L), (12L, 2L)))
  }

  test("duplicateClusters: star contraction bounds rounds at O(log n) on a chain") {
    import spark.implicits._
    // a 200-node path graph is the label-prop worst case (~199 rounds
    // of diameter-limited propagation); alternating large/small star
    // must contract it in O(log n) pair-rounds and still label every
    // node with the component minimum
    val n = 200
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val (df, rounds) =
      graft.text.Dedup.duplicateClustersWithRounds(pairs, maxIter = 20)
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size === n)
    (1 to n).foreach(i => assert(out(i.toLong) === 1L, s"node $i"))
    // log2(200) ~ 7.6; the paper's bound is O(log n) pair-rounds (+1
    // to observe the fixed point). 12 leaves slack without letting a
    // diameter-scaling regression back in.
    assert(rounds <= 12, s"chain took $rounds pair-rounds")
  }

  test("duplicateClusters: exhausting maxIter raises instead of mislabeling") {
    import spark.implicits._
    // the star read-out is only per-component correct AT the fixed
    // point; a maxIter exit used to return a structurally wrong
    // labeling silently (several labels inside one component)
    val pairs = (1 until 64).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.text.Dedup.duplicateClustersWithRounds(pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("editVerifiedNearDups: order-sensitive verify where jaccard is blind") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("delta", "delra")),   // one-char edit: near-dup
      (3L, base.split(" ").reverse.mkString(" ")), // permutation
      (4L, "totally different words entirely here now then when who")
    ).toDF("doc_id", "text")
    val got = graft.text.Dedup.editVerifiedNearDups(docs, n = 2,
        numHashes = 16, bands = 8, minSim = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"one-char edit pair missed: $got")
    // the permutation shares every unigram (jaccard 1.0 at n=1) but is
    // far in edit space - must NOT appear at 0.9 edit similarity
    assert(!got.exists(p => p._2 == 3L || p._1 == 3L),
      s"permuted doc wrongly edit-verified: $got")
    // sim/lev columns are consistent
    val row = graft.text.Dedup.editVerifiedNearDups(docs, n = 2,
        numHashes = 16, bands = 8, minSim = 0.9)
      .filter(col("doc_a") === 1L && col("doc_b") === 2L).collect().head
    assert(row.getAs[Long]("lev") === 1L)
    assert(math.abs(row.getAs[Double]("sim") -
      (base.length - 1.0) / base.length) < 1e-9)
  }

  test("classTfidf: class-exclusive terms outrank shared commons") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common quantum quark quark", "phys"),
      (2L, "common quark boson boson boson", "phys"),
      (3L, "common common sonnet sonnet verse", "poet"),
      (4L, "common verse verse stanza stanza", "poet")
    ).toDF("doc_id", "text", "source")
    val got = TextStats.classTfidf(docs, topK = 3)
    val rows = got.collect().map(r => (r.getAs[String]("group"),
      r.getAs[String]("token"), r.getAs[Int]("rank"))).toSeq
    val physTop = rows.filter(_._1 == "phys").sortBy(_._3).map(_._2)
    val poetTop = rows.filter(_._1 == "poet").sortBy(_._3).map(_._2)
    // the corpus-wide 'common' never beats the class-exclusive terms
    assert(!physTop.take(2).contains("common"), physTop.toString)
    assert(!poetTop.take(2).contains("common"), poetTop.toString)
    assert(physTop.head === "boson" || physTop.head === "quark", physTop.toString)
    assert(poetTop.take(2).toSet.subsetOf(Set("sonnet", "verse", "stanza")),
      poetTop.toString)
    // determinism across partitionings
    val again = TextStats.classTfidf(docs.repartition(7), topK = 3)
      .orderBy("group", "rank").collect().toSeq
    assert(again === got.orderBy("group", "rank").collect().toSeq)
  }

  test("simHash: identical docs share hash; different docs differ") {
    val d = docs(1L -> "spark makes big data small", 2L -> "spark makes big data small",
      3L -> "entirely unrelated words here now")
    val m = Dedup.simHash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
    assert(m.values.forall(_ >= 0L)) // 56-bit: always non-negative
  }

  test("winnowFingerprints: subset invariance under local edit") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val edited = "zzz " + base // single local edit at the front
    val d = docs(1L -> base, 2L -> edited)
    val fp = Dedup.winnowFingerprints(d, n = 3, w = 4).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    // winnowing guarantee: most fingerprints survive a prefix edit
    val shared = fp(1L).intersect(fp(2L)).size.toDouble
    assert(shared / fp(1L).size > 0.8)
  }

  test("textStats counts and quality score") {
    val d = docs(1L -> "the cat sat on the mat")
    val r = TextStats.textStats(d).collect().head
    assert(r.getAs[Long]("n_chars") === 22L)
    assert(r.getAs[Long]("n_tokens") === 6L)
    assert(r.getAs[Long]("n_types") === 5L) // "the" twice
    assertClose(r.getAs[Double]("avg_token_len"), (22.0 - 5.0) / 6.0)
    assertClose(r.getAs[Double]("stopword_ratio"), 3.0 / 6.0) // the, on, the
    // short doc (<10 tokens) -> qLen=0.25; others pass
    assertClose(r.getAs[Double]("quality_score"), 0.25)
  }

  test("languageId identifies real multilingual sentences") {
    val d = docs(
      1L -> "the cat is in the house and it is quiet",
      2L -> "der hund ist nicht in das haus und die katze",
      3L -> "el perro y la gata se quedan en el parque por la tarde",
      4L -> "le chat et les chiens sont dans une maison pour la nuit",
      5L -> "今天天气很好我们去公园")
    val out = TextStats.languageId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "es", 4L -> "fr", 5L -> "zh"))
  }

  test("tokenCounts: whitespace and bpe-ish counts") {
    val d = docs(1L -> "hello world42 a-b")
    val r = TextStats.tokenCounts(d).collect().head
    assert(r.getAs[Long]("ws_tokens") === 3L)
    // hello(2) + world(2) + 4,2(2 digits) + a(1) + b(1) + '-'(1) = 9
    assert(r.getAs[Long]("bpe_tokens") === 9L)
  }

  test("topNgrams: corpus-level bigram counts with doc frequency") {
    val d = docs(1L -> "a b a b c", 2L -> "a b x", 3L -> "z")
    // bigrams: doc1 = [a b, b a, a b, b c], doc2 = [a b, b x], doc3 = none
    val out = TextStats.topNgrams(d, n = 2, k = 2).collect()
      .map(r => (r.getAs[String]("ngram"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("count")))
    assert(out.head === (("a b", 2L, 3L)))
    assert(out.length === 2)
    // rank 2 is a count-1 tie broken lexicographically: "b a" first
    assert(out(1) === (("b a", 1L, 1L)))
  }

  test("sampleByRate: deterministic, rate-monotone, growth-stable") {
    import graft.text.CorpusOps
    val d = (0L until 400L).map(i => (i, s"tok$i", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    val rates = Seq(("a", 1.0), ("b", 0.25)).toDF("source", "rate")
    val kept = CorpusOps.sampleByRate(d, rates).collect()
    val keptA = kept.count(_.getAs[String]("source") == "a")
    val keptB = kept.count(_.getAs[String]("source") == "b")
    assert(keptA === 200) // rate 1.0 keeps everything
    assert(keptB > 20 && keptB < 80, s"keptB=$keptB") // ~25% of 200
    // deterministic: identical keep set on re-run
    val again = CorpusOps.sampleByRate(d, rates).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(again === kept.map(_.getAs[Long]("doc_id")).toSet)
    // growth-stable: adding rows never changes an existing doc's fate
    val grown = d.unionByName(Seq((9999L, "zzz", "b")).toDF("doc_id", "text", "source"))
    val grownKept = CorpusOps.sampleByRate(grown, rates).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(grownKept.filter(_ < 400L) === again)
  }

  test("unigramLogProb: hand-computed corpus LM scores") {
    // tf: d1 {a:2, b:1}, d2 {b:1, c:1}; cf: a=2, b=2, c=1; C=5
    val d = docs(1L -> "a a b", 2L -> "b c")
    val out = graft.text.TextStats.unigramLogProb(d).orderBy("doc_id").collect()
    assert(out.length === 2)
    // per-term ln snapped to the 1e-6 grid (widened from 1e-8 after the
    // 50k-doc straddle probe — SURVEY §5.7)
    val lp25 = BigDecimal(math.log(2.0 / 5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble // ln(0.4) snapped
    val lp15 = BigDecimal(math.log(1.0 / 5.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Long]("n_tokens") === 3L)
    assertClose(out(0).getAs[Double]("logprob"), (2 * lp25 + lp25) / 3.0, 1e-8)
    assert(out(1).getAs[Long]("n_tokens") === 2L)
    assertClose(out(1).getAs[Double]("logprob"), (lp25 + lp15) / 2.0, 1e-8)
  }

  test("bm25TopK: hand-computed scores, ranked, non-matching doc absent") {
    import graft.text.Search
    // N=3, every dl=2 so avgdl=2 and the tf-saturation w is exactly 1
    val d = docs(1L -> "apple banana", 2L -> "apple cherry", 3L -> "durian elderberry")
    val qs = Seq((1L, "apple banana")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(d, qs, k = 10).collect()
    assert(out.length === 2) // doc3 matches no term: absent, not zero-scored
    val idfApple = BigDecimal(math.log(1.0 + (3 - 2 + 0.5) / 2.5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfBanana = BigDecimal(math.log(1.0 + (3 - 1 + 0.5) / 1.5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0).getAs[Long]("rank") === 1L)
    assert(out(0).getAs[Long]("doc_id") === 1L)
    assertClose(out(0).getAs[Double]("score"), idfApple + idfBanana, 1e-8)
    assert(out(1).getAs[Long]("rank") === 2L)
    assert(out(1).getAs[Long]("doc_id") === 2L)
    assertClose(out(1).getAs[Double]("score"), idfApple, 1e-8)
  }

  test("bm25TopK: tf saturation ranks dense match above long diffuse doc") {
    import graft.text.Search
    val dense = "match match match filler1 filler2"
    val diffuse = ("match " + (1 to 40).map(i => s"pad$i").mkString(" "))
    val d = docs(1L -> dense, 2L -> diffuse, 3L -> "unrelated tokens here")
    val qs = Seq((7L, "match")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(d, qs, k = 2).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L))
    assert(out(0).getAs[Double]("score") > out(1).getAs[Double]("score"))
  }

  test("bm25TopKFromIndex over a prebuilt index matches the direct path") {
    import graft.text.Search
    val d = docs(1L -> "apple banana", 2L -> "apple cherry", 3L -> "durian kiwi")
    val qs = Seq((1L, "apple banana"), (2L, "cherry")).toDF("query_id", "qtext")
    val idx = Search.buildIndex(d)
    val direct = Search.bm25TopK(d, qs, k = 5).collect().map(_.toSeq).toSeq
    val indexed = Search.bm25TopKFromIndex(idx, qs, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(indexed === direct)
  }

  test("phraseSearch: overlapping occurrences, duplicate slots, absent terms") {
    import graft.text.Search
    val d = docs(
      1L -> "a b a b a",     // "a b a" at 0 and 2 (overlap)
      2L -> "b a b a b",     // "a b a" at 1 only
      3L -> "a a b",         // no
      4L -> "x y z a b a")   // at 3 (doc end)
    def hits(phrase: String*) =
      Search.phraseSearch(d, phrase).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits("a", "b", "a") ===
      Set((1L, 0L), (1L, 2L), (2L, 1L), (4L, 3L)))
    // single-term phrase = every position of the term
    assert(hits("z") === Set((4L, 2L)))
    // an absent term anchors immediately empty
    assert(hits("a", "nope") === Set.empty)
    // brute-force parity on a randomized small-vocab corpus
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 40L).map { i =>
      i -> (0 until 5 + rnd.nextInt(25))
        .map(_ => s"t${rnd.nextInt(4)}").mkString(" ")
    }
    val cd = docs(corpus: _*)
    val phrase = Seq("t1", "t0", "t1")
    val got = Search.phraseSearch(cd, phrase).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = corpus.flatMap { case (id, text) =>
      val toks = text.split(" ")
      toks.indices.dropRight(phrase.length - 1).collect {
        case p if toks.slice(p, p + phrase.length).sameElements(phrase) =>
          (id, p.toLong)
      }
    }.toSet
    assert(got === want && want.nonEmpty)
  }

  test("phraseOccurrencesBatch == per-phrase walks, one join regardless of P") {
    import graft.text.Search
    val rnd = new scala.util.Random(29)
    val corpus = (0L until 50L).map { i =>
      i -> (0 until 5 + rnd.nextInt(30))
        .map(_ => s"t${rnd.nextInt(4)}").mkString(" ")
    }
    val cd = docs(corpus: _*)
    val idx = Search.buildPositionalIndex(cd)
    val phrases = Seq(
      Seq("t1", "t0", "t1"),      // duplicate-term phrase
      Seq("t2"),                  // single term
      Seq("t3", "t3"),            // adjacent duplicates
      Seq("t0", "nope"))          // absent term: no rows
    val got = Search.phraseOccurrencesBatch(idx, phrases).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = phrases.zipWithIndex.flatMap { case (p, pid) =>
      Search.phraseOccurrences(idx, p).collect()
        .map(r => (pid.toLong, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(got === want && want.nonEmpty)
    assert(!got.exists(_._1 == 3L), "absent-term phrase must match nothing")
    // plan economy: ONE posting join + one aggregate, not k joins per
    // phrase — count the joins in the plan
    val plan = Search.phraseOccurrencesBatch(idx, phrases)
      .queryExecution.optimizedPlan.toString
    assert(plan.split("Join").length - 1 <= 2,
      s"batch walk grew per-phrase joins:\n$plan")
  }

  test("phraseSetGate == per-phrase gates; kernel paths agree; stream-shaped plan") {
    import graft.text.Search
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 40L).map { i =>
      i -> (0 until 3 + rnd.nextInt(25))
        .map(_ => s"t${rnd.nextInt(4)}").mkString(" ")
    }
    val cd = docs(corpus: _*)
    val phrases = Seq(
      Seq("t1", "t0", "t1"), Seq("t2"), Seq("t3", "t3"),
      Seq("t0", "nope"))
    val got = Search.phraseSetGate(cd, phrases).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    // docs x phrases shape, zero-hit pairs included
    assert(got.size === corpus.size * phrases.length)
    // counts equal the single-phrase HOF gate for every phrase
    phrases.zipWithIndex.foreach { case (p, pid) =>
      val single = Search.phraseGate(cd, p).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[scala.collection.Seq[Long]]("phrase_starts").size.toLong)
        .toMap
      corpus.foreach { case (id, _) =>
        assert(got((id, pid.toLong)) === ((single(id), single(id) > 0)),
          s"doc $id phrase $pid")
      }
    }
    assert(got.exists(_._2._1 > 0) && got.exists(_._2._1 == 0))
    // interpreted eval matches codegen (the shared-kernel contract)
    val before = got
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = Search.phraseSetGate(cd, phrases).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getBoolean(3)))).toMap
      assert(interp === before)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // stateless stream shape: no join, no aggregate, one kernel (a
    // local fixture folds to LocalRelation and hides the projection —
    // the BloomSpec spark.range precedent)
    val rangeDocs = spark.range(20).select(col("id").as("doc_id"),
      concat(lit("t1 t0 t1 t2 d"), col("id")).as("text"))
    val plan = Search.phraseSetGate(rangeDocs, phrases)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
    assert(plan.contains("graft_phrase_set_hits_bcast"), plan)
  }

  test("decontaminationVerdicts == batch walk totals over every corpus doc") {
    import graft.text.Search
    val cd = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with the quick brown fox inside",
      3L -> "completely unrelated content here",
      4L -> "the quick brown fox appears twice the quick brown fox")
    val evalSet = Seq(
      Seq("the", "quick", "brown", "fox"),
      Seq("lazy", "dog"),
      Seq("absent", "gram"))
    val got = Search.decontaminationVerdicts(cd, evalSet).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) === ((2L, 2L, true))) // both real phrases hit
    assert(got(2L) === ((1L, 1L, true)))
    assert(got(3L) === ((0L, 0L, false))) // clean doc still reported
    assert(got(4L) === ((2L, 1L, true))) // two hits, ONE distinct phrase
  }

  test("persisted positional index: identical probe results, partition-pruned scans") {
    import graft.text.Search
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val phrase = Seq("table", "key", "agg")
    val inline = Search.phraseSearch(d, phrase).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inline.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_posidx").toString
    try {
      Search.savePositionalIndex(Search.buildPositionalIndex(d), dir)
      val probe = Search.phraseOccurrences(
        Search.loadPositionalIndex(spark, dir), phrase)
      val got = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === inline)
      // the bucket predicate must constant-fold into a PARTITION filter
      // on every posting scan — directory pruning, not a row filter
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
      assert(!plan.contains("PartitionFilters: []"),
        s"an unpruned posting scan survived:\n$plan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("containmentPairsFromSets: subset doc scores containment 1.0") {
    // doc2's shingles {b c d, c d e} ⊂ doc1's {a b c, b c d, c d e, d e f}:
    // containment = 2/min(2,4) = 1.0 while Jaccard is only 0.5
    val d = docs(1L -> "a b c d e f", 2L -> "b c d e", 3L -> "q r s t u")
    val sets = Dedup.shingleSets(d, n = 3)
    val rows = Dedup.containmentPairsFromSets(sets, minContainment = 0.9).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Long]("doc_a") === 1L)
    assert(rows.head.getAs[Long]("doc_b") === 2L)
    assert(rows.head.getAs[Long]("common") === 2L)
    assertClose(rows.head.getAs[Double]("containment"), 1.0)
  }

  test("containmentPairsFromSets: df-capped candidates, exact verification") {
    // the hot shingle "a b c" (in all 4 docs) is df-capped out of the
    // index with maxDf=3, but pairs still found via their other shared
    // shingles are verified against FULL sets — the hot shingle counts
    // toward `common` even though it generated no candidates
    val d = docs(1L -> "a b c x y z", 2L -> "a b c x y w",
      3L -> "a b c q", 4L -> "a b c r")
    val sets = Dedup.shingleSets(d, n = 3)
    val rows = Dedup.containmentPairsFromSets(sets, minContainment = 0.5, maxDf = 3)
      .collect()
    // doc1 {a b c, b c x, c x y, x y z}, doc2 {a b c, b c x, c x y, x y w}:
    // common = 3 (incl. the capped "a b c"), containment = 3/4
    assert(rows.length === 1)
    assert((rows.head.getAs[Long]("doc_a"), rows.head.getAs[Long]("doc_b")) === ((1L, 2L)))
    assert(rows.head.getAs[Long]("common") === 3L)
    assertClose(rows.head.getAs[Double]("containment"), 0.75)
  }

  test("cooccurrencePairs: in-window unordered pairs, exact counts") {
    import graft.text.Collocations
    val d = docs((1L, "a b c"), (2L, "z"))
    val pairs = Collocations.cooccurrencePairs(d, window = 2).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    // positions: (a,b) d=1, (b,c) d=1, (a,c) d=2 — single-token doc inert
    assert(pairs.sorted.toSeq === Seq(("a", "b"), ("a", "c"), ("b", "c")))
    // unordered: "c a" yields (a, c)
    val rev = Collocations.cooccurrencePairs(docs((3L, "c a")), window = 2)
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
    assert(rev.toSeq === Seq(("a", "c")))
  }

  test("pmiTopK ranks genuinely associated pairs above frequent-but-independent ones") {
    import graft.text.Collocations
    // "ping pong" always adjacent (perfect association); "the" is
    // everywhere (high frequency, no specific partner)
    val d = docs((0 until 30).map(i =>
      (i.toLong, s"the w$i ping pong the w$i")): _*)
    val out = Collocations.pmiTopK(d, k = 5, window = 1, minCount = 5).collect()
    assert(out.nonEmpty)
    val top = (out.head.getAs[String]("a"), out.head.getAs[String]("b"))
    assert(top === (("ping", "pong")), s"expected (ping, pong) first, got $top")
    // pmi column is exactly the scaled integer / 1e6
    out.foreach { r =>
      assert(r.getAs[Double]("pmi") ===
        r.getAs[Long]("pmi_scaled").toDouble / 1e6)
    }
    // deterministic across runs
    val again = Collocations.pmiTopK(d, k = 5, window = 1, minCount = 5).collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }
}
