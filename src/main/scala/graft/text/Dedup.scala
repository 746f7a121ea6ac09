package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import TextOps._

/** Document deduplication operators for LLM-training-data pipelines:
  * exact (content hash), n-gram Jaccard (inverted shingle index),
  * MinHash + banded LSH (near-dup at scale), SimHash, and winnowing
  * fingerprints.
  *
  * Scale design (the 100 TB contract):
  *  - never all-pairs: candidate generation is always an equi-join on a
  *    bounded key (content hash, shingle posting list capped by document
  *    frequency, LSH band bucket, SimHash band);
  *  - no driver-side collects anywhere — outputs are DataFrames;
  *  - hot-key skew on the inverted index is bounded by `maxDf` (shingles
  *    occurring in more than maxDf docs carry ~no signal and explode the
  *    join — standard df-capping);
  *  - per-document state (shingle sets, 64-wide signatures) is O(doc
  *    length), independent of corpus size.
  */
object Dedup {

  /** Exact duplicate groups by full-content hash: one row per distinct
    * content with the canonical (minimum) id and the duplicate count.
    * Single distributed hash aggregate; no shuffle beyond the groupBy. */
  def exactDuplicates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Distinct (id, shingle-set) pairs plus set size — the tokenize →
    * shingle → distinct prefix shared by the Jaccard, MinHash, and
    * clustering operators. Callers fanning out several dedup queries
    * over one corpus should compute this once, persist it, and use the
    * `FromSets` variants below (the §3 "cache the prefix" lifecycle). */
  def shingleSets(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3): DataFrame =
    docs.select(col(idCol).as("__id"),
        shingles(tokens(col(textCol)), n).as("__set"))
      .withColumn("__sz", size(col("__set")))
      .filter(col("__sz") > 0)

  /** Exact n-gram Jaccard similarity pairs via an inverted shingle
    * index: explode distinct shingles, drop shingles appearing in more
    * than `maxDf` documents (hot keys: no discriminative power, join
    * skew), equi-join posting lists with id ordering, count common
    * shingles per pair, then J = common / (|A| + |B| - common).
    *
    * Output: (doc_a, doc_b, jaccard) with jaccard >= minJaccard, rounded
    * to 1e-9 for cross-engine hash stability. */
  def jaccardPairs(
      docs: DataFrame,
      n: Int = 3,
      minJaccard: Double = 0.2,
      maxDf: Int = 100,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    jaccardPairsFromSets(shingleSets(docs, textCol, idCol, n),
      minJaccard, maxDf)

  /** [[jaccardPairs]] over a precomputed (ideally persisted)
    * [[shingleSets]] table. */
  def jaccardPairsFromSets(
      sets: DataFrame,
      minJaccard: Double = 0.2,
      maxDf: Int = 100): DataFrame = {
    // set size rides along each posting row: joining sizes back onto the
    // pair table would re-derive the shingle lineage (the CPU-heavy
    // split+slice+distinct) twice more; carried through, the a/b sides
    // share one exchange and first() recovers the sizes for free
    val posts = sets.select(col("__id"), col("__sz"),
      explode(col("__set")).as("__sh"))
    val kept = posts
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
      .filter(col("__df") <= maxDf)
    val a = kept.select(col("__sh"), col("__id").as("doc_a"), col("__sz").as("__sza"))
    val b = kept.select(col("__sh"), col("__id").as("doc_b"), col("__sz").as("__szb"))
    a.join(b, Seq("__sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__common"),
        first(col("__sza")).as("__sza"), first(col("__szb")).as("__szb"))
      .withColumn("jaccard",
        round(col("__common").cast("double") /
          (col("__sza") + col("__szb") - col("__common")), 9))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash signatures: one row per doc, `numHashes` min-hash values
    * (universal-hash family over 56-bit shingle hashes, see TextOps). */
  def minHashSignatures(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    minHashSignaturesFromSets(shingleSets(docs, textCol, idCol, n), numHashes)

  /** [[minHashSignatures]] over a precomputed [[shingleSets]] table. */
  def minHashSignaturesFromSets(
      sets: DataFrame,
      numHashes: Int = 64): DataFrame = {
    val h0 = sets.select(col("__id"), explode(col("__set")).as("__sh"))
      .withColumn("__h0", hash56(col("__sh")) % HashP)
    val mins = (0 until numHashes).map { j =>
      val (aj, bj) = hashParams(j)
      min((lit(aj) * col("__h0") + lit(bj)) % HashP).as(s"__m$j")
    }
    h0.groupBy("__id").agg(mins.head, mins.tail: _*)
  }

  /** Near-duplicate pairs via banded MinHash LSH: signatures are cut
    * into `bands` bands of numHashes/bands rows; documents sharing any
    * full band land in one bucket (equi-join key), and only bucket
    * neighbours are verified with the EXACT n-gram Jaccard — never
    * all-pairs. Band width trades recall for candidate volume (16 bands
    * of 4 hashes targets J >= ~0.5 with high recall).
    *
    * Output: (doc_a, doc_b, jaccard >= minJaccard), rounded to 1e-9. */
  def minHashNearDups(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    minHashNearDupsFromSets(shingleSets(docs, textCol, idCol, n),
      numHashes, bands, minJaccard)

  /** [[minHashNearDups]] over a precomputed (ideally persisted)
    * [[shingleSets]] table: both the signature build and the exact
    * verification join hit the same cached sets. */
  def minHashNearDupsFromSets(
      sets: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val sig = minHashSignaturesFromSets(sets, numHashes)
    val bandKeys = bandKeyCols((0 until numHashes).map(j => col(s"__m$j")), bands)
    val buckets = sig.select(col("__id"), explode(array(bandKeys: _*)).as("__bk"))
    val ca = buckets.select(col("__bk"), col("__id").as("doc_a"))
    val cb = buckets.select(col("__bk"), col("__id").as("doc_b"))
    val cand = ca.join(cb, Seq("__bk")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // both verification joins key the SAME sets plan on __id — renaming
    // only after the join keeps the two exchange children byte-identical
    // so ReuseExchange computes the (CPU-heavy) shingle sets once, not
    // once per side
    val verified = cand
      .join(sets.as("sa"), col("doc_a") === col("sa.__id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.__id"))
      .withColumn("__common",
        size(array_intersect(col("sa.__set"), col("sb.__set"))))
      .withColumn("jaccard",
        round(col("__common").cast("double") /
          (col("sa.__sz") + col("sb.__sz") - col("__common")), 9))
      .filter(col("jaccard") >= minJaccard)
    verified.select("doc_a", "doc_b", "jaccard").orderBy("doc_a", "doc_b")
  }

  /** Incremental (cross-corpus) near-duplicate join: NEW-BATCH
    * documents against an EXISTING corpus via the same banded-MinHash
    * LSH + exact-Jaccard verify as [[minHashNearDups]] — the
    * incremental-ingest shape at 100 TB: dedup the delta against the
    * accumulated corpus WITHOUT re-pairing the corpus with itself
    * (within-corpus LSH re-pairs O(|corpus|) buckets per refresh; the
    * cross join touches only buckets the batch actually lands in).
    * The corpus side's shingle sets / signatures are the persisted
    * artifacts an ingest pipeline maintains; pass them precomputed
    * through [[crossCorpusNearDupsFromSets]].
    *
    * Output: (batch_id, corpus_id, jaccard >= minJaccard), 1e-9
    * rounded — one row per (new doc, existing doc) near-dup link;
    * batch docs with no row are genuinely new content. */
  def crossCorpusNearDups(
      batch: DataFrame,
      corpus: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    crossCorpusNearDupsFromSets(
      shingleSets(batch, textCol, idCol, n),
      shingleSets(corpus, textCol, idCol, n),
      numHashes, bands, minJaccard)

  /** [[crossCorpusNearDups]] over precomputed (ideally persisted)
    * [[shingleSets]] tables for each side. */
  def crossCorpusNearDupsFromSets(
      batchSets: DataFrame,
      corpusSets: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    def buckets(sets: DataFrame): DataFrame = {
      val sig = minHashSignaturesFromSets(sets, numHashes)
      val keys = bandKeyCols((0 until numHashes).map(j => col(s"__m$j")), bands)
      sig.select(col("__id"), explode(array(keys: _*)).as("__bk"))
    }
    // the batch side is the SMALL side of an incremental refresh —
    // broadcast its bucket keys so the corpus-side scan never shuffles
    val cand = broadcast(buckets(batchSets))
      .withColumnRenamed("__id", "batch_id")
      .join(buckets(corpusSets).withColumnRenamed("__id", "corpus_id"),
        Seq("__bk"))
      .select("batch_id", "corpus_id").distinct()
    cand
      .join(batchSets.as("sa"), col("batch_id") === col("sa.__id"))
      .join(corpusSets.as("sb"), col("corpus_id") === col("sb.__id"))
      .withColumn("__common",
        size(array_intersect(col("sa.__set"), col("sb.__set"))))
      .withColumn("jaccard",
        round(col("__common").cast("double") /
          (col("sa.__sz") + col("sb.__sz") - col("__common")), 9))
      .filter(col("jaccard") >= minJaccard)
      .select("batch_id", "corpus_id", "jaccard")
      .orderBy("batch_id", "corpus_id")
  }

  /** Near-duplicate pairs verified by EDIT DISTANCE — LSH proposes,
    * levenshtein disposes (round 10): candidates come from the same
    * banded-MinHash buckets as [[minHashNearDups]] (bounded equi-join,
    * never all-pairs), but the verify stage computes the exact
    * character-level edit similarity 1 − lev/max(len). The Jaccard
    * verify is ORDER-BLIND (a token permutation scores 1.0); edit
    * similarity is order-sensitive — the right verdict for
    * template/boilerplate near-dups where wording order matters.
    * Threshold compares on the exact integer cross-product
    * ((maxlen − lev)·1e6 >= round(minSim·1e6)·maxlen), so the cut is
    * engine-exact; `sim` itself is one IEEE division rounded at 1e-9.
    *
    * Scale: candidate volume is the LSH bucket graph; each verify is
    * O(len²) on one candidate pair — the classic propose/verify
    * asymmetry. Both Spark's and DuckDB's levenshtein implement the
    * standard unit-cost DP, so the integer distances agree.
    *
    * @return (doc_a, doc_b, lev, sim) for verified pairs */
  def editVerifiedNearDups(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minSim: Double = 0.8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(minSim > 0 && minSim <= 1, s"minSim must be in (0,1], got $minSim")
    val tau = math.round(minSim * 1e6)
    val sets = shingleSets(docs, textCol, idCol, n)
    val sig = minHashSignaturesFromSets(sets, numHashes)
    val bandKeys = bandKeyCols((0 until numHashes).map(j => col(s"__m$j")), bands)
    val buckets = sig.select(col("__id"), explode(array(bandKeys: _*)).as("__bk"))
    val ca = buckets.select(col("__bk"), col("__id").as("doc_a"))
    val cb = buckets.select(col("__bk"), col("__id").as("doc_b"))
    val cand = ca.join(cb, Seq("__bk")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val txt = docs.select(col(idCol), col(textCol))
    cand
      .join(txt.select(col(idCol).as("doc_a"), col(textCol).as("__ta")), Seq("doc_a"))
      .join(txt.select(col(idCol).as("doc_b"), col(textCol).as("__tb")), Seq("doc_b"))
      .withColumn("__ml",
        greatest(length(col("__ta")), length(col("__tb"))).cast("long"))
      .filter(col("__ml") > 0)
      // EXACT length-gap prune before the DP: lev >= |la−lb| always,
      // so a pair whose gap alone caps sim below minSim can never
      // verify — LSH hash-collision candidates between docs of very
      // different sizes skip the edit distance entirely
      .filter((col("__ml") -
          abs(length(col("__ta")) - length(col("__tb"))).cast("long")) *
        lit(1000000L) >= lit(tau) * col("__ml"))
      // per-pair BAND-LIMITED Levenshtein ([[graft.functions
      // .LevBounded]]): sim >= minSim iff lev <= B(ml) =
      // floor(ml·(1e6−tau)/1e6) — an exact integer bound per pair, the
      // thing the builtin's global-Int threshold cannot express. The
      // kernel returns the EXACT distance for survivors and −1 past
      // the bound (Ukkonen band + early exit), so the output rows and
      // lev values are identical to the full DP; the win grows as
      // minSim tightens (band width (1−minSim)·len)
      .withColumn("__bnd",
        expr(s"cast((__ml * ${1000000L - tau}) div 1000000 as int)"))
      .withColumn("lev", {
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
        column(graft.functions.LevBounded(expression(col("__ta")),
          expression(col("__tb")), expression(col("__bnd")))).cast("long")
      })
      .filter(col("lev") >= 0L)
      .select(col("doc_a"), col("doc_b"), col("lev"),
        round((col("__ml") - col("lev")).cast("double") / col("__ml"), 9)
          .as("sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over a near-duplicate pair graph: every
    * document that appears in at least one pair is labeled with the
    * minimum doc id reachable through the pairs — the canonical
    * representative of its duplicate cluster (keep one per cluster,
    * drop the rest: the standard final step of corpus-level dedup).
    *
    * Alternating star-contraction (the large-star / small-star
    * two-phase scheme of Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC '14): each pair-round rewrites every
    * edge to point at the minimum of its neighborhood, which provably
    * converges to per-component stars in O(log n) rounds — vs the
    * O(component diameter) of plain min-label propagation, which
    * degrades to hundreds of rounds on pathological chain clusters
    * while dup graphs at 100 TB DO grow long chains (a←b←c… partial
    * overlaps). Each half-round is one shuffled min-aggregate + one
    * equi-join + a distinct over the current EDGE set (same per-round
    * cost shape as label-prop, strictly fewer rounds). Deterministic:
    * min/distinct are order-independent.
    *
    * Convergence: the star form is the unique fixed point of both
    * phases, so the loop stops when a full pair-round leaves the edge
    * set unchanged — detected in one scan of the checkpointed frame
    * via (count, xor of edge hashes, label mass sum(dst)); the label
    * mass is the same monotone witness the label-prop version used.
    * `maxIter` caps pair-rounds. */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 50): DataFrame =
    duplicateClustersWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[duplicateClusters]] exposing the pair-round count (for round
    * audits and the DedupSpec chain-graph bound). */
  def duplicateClustersWithRounds(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxIter: Int = 50): (DataFrame, Int) = {
    val raw = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // every endpoint needs a label row even if star contraction leaves
    // it edge-free (component roots, self-paired docs)
    val nodes = raw.select(col("src").as("id"))
      .unionByName(raw.select(col("dst").as("id")))
      .distinct().localCheckpoint()
    // canonical orientation (src > dst), self-loops dropped; each
    // round's edge set is localCheckpoint'ed, not just persisted: the
    // logical plan of round N references round N-1 TWICE (min
    // aggregate + join back), so without lineage truncation the plan
    // DOUBLES per half-round — plan stringification alone OOMs after
    // ~10 rounds. localCheckpoint replaces the lineage with the
    // materialized partitions (the standard iterative-algorithm guard).
    var edges = raw.where(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct().localCheckpoint()

    // large-star: every node v strictly larger than a neighbor u is
    // re-pointed at m(u) = min(Γ(u) ∪ {u}); keeps src > dst invariant
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = und.groupBy("src").agg(min("dst").as("__mn"))
        .select(col("src").as("__u"),
          least(col("__mn"), col("src")).as("__m"))
      und.join(mins, und("src") === col("__u"))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .distinct()
    }
    // small-star: every node's smaller neighbors (and itself) attach
    // to the minimum of its smaller neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("__m"))
      e.join(mins, "src")
        .select(
          when(col("dst") === col("__m"), col("src"))
            .otherwise(col("dst")).as("src"),
          col("__m").as("dst"))
        .distinct()
    }
    // edge-set signature, one scan: at the star fixed point both
    // phases are identities, so an unchanged signature after a full
    // pair-round is convergence. XOR over the distinct edge set cannot
    // overflow (ANSI-safe) and is order-independent; the decimal
    // sum(dst) is the monotone label mass the label-prop version used.
    def sig(e: DataFrame): Seq[Any] = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(src, dst))"),
        sum(col("dst").cast("decimal(38,0)"))).collect()(0)
      Seq(r.getLong(0), r.get(1), r.get(2))
    }
    var prev = sig(edges)
    var iter = 0
    var converged = prev.head == 0L
    while (!converged && iter < maxIter) {
      val eL = largeStar(edges).localCheckpoint()
      val eS = smallStar(eL).localCheckpoint()
      val s = sig(eS)
      converged = s == prev
      prev = s
      edges = eS
      iter += 1
    }
    // Unlike the old label-propagation read-out (which degraded
    // monotonically), the star read-out below is only per-component
    // correct AT the fixed point: exiting via maxIter could assign
    // several labels within one component with no other symptom. Star
    // contraction converges in O(log n) pair-rounds, so hitting the
    // cap means the cap is too small for the graph — fail loudly
    // rather than return a structurally wrong clustering.
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not reach the star-contraction fixed " +
          s"point within maxIter=$maxIter pair-rounds; the labeling " +
          s"would not be per-component — raise maxIter (rounds needed " +
          s"grow as O(log n) in the largest component)")
    // at the fixed point every non-root holds exactly the edge
    // (node, component min); roots and isolated nodes label themselves
    val lbl = edges.groupBy(col("src").as("id")).agg(min("dst").as("__l"))
    val out = nodes.join(lbl, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("__l"), col("id")).as("cluster_id"))
      .orderBy("doc_id")
    (out, iter)
  }

  /** One-sided containment near-dup pairs: containment
    * C(A,B) = |A∩B| / min(|A|,|B|) — high when one document quotes or
    * embeds another even though symmetric Jaccard stays low (the
    * subset/quote case corpus dedup cares about and Jaccard misses).
    *
    * Candidate pairs come from the same df-capped inverted shingle
    * index as [[jaccardPairsFromSets]] (never all-pairs, same maxDf
    * skew guard); each candidate is then verified EXACTLY against the
    * full shingle sets via array_intersect — like the MinHash path —
    * so the reported containment is the true C(A,B), not the df-capped
    * underestimate. A pair sharing ONLY shingles hotter than maxDf
    * generates no candidate (shared-boilerplate pairs; standard LSH
    * recall trade).
    * Output: (doc_a, doc_b, common, containment >= minContainment). */
  def containmentPairsFromSets(
      sets: DataFrame,
      minContainment: Double = 0.6,
      maxDf: Int = 100): DataFrame = {
    val posts = sets.select(col("__id"), col("__sz"),
      explode(col("__set")).as("__sh"))
    val kept = posts
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("__sh")))
      .filter(col("__df") <= maxDf)
      // per-doc count of CAPPED-OUT (hot) shingles = |set| - |kept rows|;
      // rides each posting row for the prune bound below
      .withColumn("__hot",
        col("__sz") - count(lit(1)).over(Window.partitionBy("__id")))
    val a = kept.select(col("__sh"), col("__id").as("doc_a"),
      col("__sz").as("__sza"), col("__hot").as("__hota"))
    val b = kept.select(col("__sh"), col("__id").as("doc_b"),
      col("__sz").as("__szb"), col("__hot").as("__hotb"))
    // capped common count per pair, then a SOUND upper bound on the true
    // containment: every common shingle is either kept-common (counted
    // exactly here) or hot — and a hot shingle is hot globally, so the
    // hot-common count is at most min(hot_a, hot_b). Pairs whose bound
    // misses the threshold are pruned BEFORE the expensive full-set
    // verification (on low-signal corpora this removes ~all candidates:
    // random shingle collisions give tiny capped-common vs set size);
    // pruning never changes the result, only which pairs get verified.
    val counted = a.join(b, Seq("__sh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__ccap"),
        first(col("__sza")).as("__sza"), first(col("__szb")).as("__szb"),
        first(col("__hota")).as("__hota"), first(col("__hotb")).as("__hotb"))
    val survivors = counted.filter(
      (col("__ccap") + least(col("__hota"), col("__hotb"))).cast("double") /
        least(col("__sza"), col("__szb")) >= minContainment)
      .select("doc_a", "doc_b")
    // exact verification against the FULL sets (not the capped index) —
    // same ReuseExchange trick as minHashNearDupsFromSets: both joins
    // key the identical sets plan on __id
    survivors
      .join(sets.as("sa"), col("doc_a") === col("sa.__id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.__id"))
      .withColumn("common",
        size(array_intersect(col("sa.__set"), col("sb.__set"))).cast("long"))
      .withColumn("containment",
        round(col("common").cast("double") /
          least(col("sa.__sz"), col("sb.__sz")), 9))
      .filter(col("containment") >= minContainment)
      .select("doc_a", "doc_b", "common", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** 56-bit SimHash per document: token-frequency-weighted majority vote
    * per bit of the 56-bit token hash (bit set iff the weighted sum of
    * +-1 votes is strictly positive). One explode + one hash aggregate.
    * Output: (id, simhash). */
  def simHash(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val bits = 56
    val toks = docs.select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("__tok"))
      .groupBy("__id", "__tok").agg(count(lit(1)).as("__cnt"))
      .withColumn("__h", hash56(col("__tok")))
    val sums = (0 until bits).map { b =>
      sum(when(shiftright(col("__h"), b) % 2 === 1, col("__cnt"))
        .otherwise(-col("__cnt"))).as(s"__s$b")
    }
    val agg = toks.groupBy("__id").agg(sums.head, sums.tail: _*)
    val hashCol = (0 until bits)
      .map(b => when(col(s"__s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("__id").as(idCol), hashCol.as("simhash"))
  }

  /** Winnowing document fingerprints (Schleimer et al.'s local minima
    * scheme): hash every positional n-gram, take the minimum hash of
    * each sliding window of `w` consecutive shingles (full windows
    * only), and emit the distinct minima per document. Robust to local
    * edits; the fingerprint set size is O(len/w).
    * Output: (id, fingerprint) distinct. */
  def winnowFingerprints(
      docs: DataFrame,
      n: Int = 3,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val seq = docs.select(col(idCol).as("__id"),
      posexplode(shingleSeq(tokens(col(textCol)), n)).as(Seq("__pos", "__sh")))
    val win = Window.partitionBy("__id").orderBy("__pos")
      .rowsBetween(-(w - 1), Window.currentRow)
    seq.withColumn("__fp", min(hash56(col("__sh"))).over(win))
      .filter(col("__pos") >= w - 1)
      .select(col("__id").as(idCol), col("__fp").as("fingerprint"))
      .distinct()
  }
}
