package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One event of the append-only stream (the driver's `events` table). */
case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Emitted summary of one closed user session. */
case class SessionSummary(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_value: Double)

private case class SessionState(
    start: Long, last: Long, n: Long, total: Double)

/** Probe event enriched with the latest at-or-before reference event of
  * the same user (streaming as-of; null ref columns = no match yet). */
case class AsOfEnriched(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    value: Double,
    ref_event_id: java.lang.Long,
    ref_ts: Timestamp,
    ref_value: java.lang.Double)

private case class RefState(eventId: Long, ts: Long, value: Double)

/** One document of an append-only text stream. */
case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

/** One vector of an append-only embedding stream. */
case class StreamVec(vec_id: Long, ts: Timestamp, embedding: Seq[Float])

/** Emitted near-duplicate hit: `doc_id` verified against the band
  * representative `prior_id` (exact Jaccard over full shingle sets). */
case class NearDupHit(
    doc_id: Long,
    ts: Timestamp,
    prior_id: Long,
    band: String,
    jaccard: Double)

private case class BandedDoc(
    band: String, doc_id: Long, ts: Timestamp, set: Seq[String])

private case class BandRep(docId: Long, ts: Long, set: Seq[String])

/** One chunk occurrence of a streamed document, with the dedup verdict:
  * `kept` iff this (doc_id, chunk_idx) is the chunk's first corpus
  * arrival (or a re-delivery of it). */
case class StreamChunk(
    doc_id: Long,
    ts: Timestamp,
    chunk_idx: Int,
    chunk: String,
    kept: Boolean)

private case class ChunkRow(
    chunk: String, doc_id: Long, ts: Timestamp, chunk_idx: Int)

private case class ChunkClaim(docId: Long, chunkIdx: Int, lastTs: Long)

/** Per-chunk document-frequency state for streaming boilerplate
  * detection: distinct doc ids up to maxDf + 1, then a permanent
  * `over` flag (state is O(maxDf), never corpus-bound). */
private case class ChunkDfState(docIds: Seq[Long], over: Boolean, lastTs: Long)

/** Structured-Streaming extensions (SURVEY §2.9/§7.6 — the reference is
  * batch-only; these are the post-parity streaming capabilities a
  * 100 TB event pipeline needs): event-time windowed stats under a
  * watermark, incremental cross-sectional correlation, exact streaming
  * dedup, and gap-timeout sessionization via flatMapGroupsWithState.
  *
  * Every operator takes and returns a (streaming) DataFrame/Dataset, so
  * the same code runs in batch tests (MemoryStream) and against
  * `readStream` sources; all state is bounded by the watermark.
  */
object Streaming {

  /** Per-(window, event_type) incremental stats: count, sum, mean of
    * `value` over tumbling event-time windows; late data beyond the
    * watermark is dropped and window state is purged. */
  def windowedEventStats(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"),
        avg("value").as("mean"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"), col("mean"))

  /** Incremental Pearson correlation between two columns per event-time
    * window — the streaming analogue of the per-date factor/return
    * correlation (rank windows are not streamable; Pearson-on-values is,
    * because corr is an algebraic aggregate). */
  def windowedCorrelation(
      stream: DataFrame,
      xCol: String,
      yCol: String,
      windowLength: String = "1 day",
      watermark: String = "1 day"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength))
      .agg(corr(col(xCol), col(yCol)).as("correlation"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("correlation"),
        col("n"))

  /** Exact streaming deduplication on event id: duplicates arriving
    * within the watermark horizon are dropped; dedup state is purged
    * with the watermark (bounded memory at any scale). */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("event_id", "ts")

  /** Streaming as-of enrichment — the stateful analogue of
    * [[graft.operators.AsOfJoin]]: every `probeType` event picks up the
    * most recent at-or-before `refType` event of the same user (e.g.
    * click -> latest view attribution, trade -> latest quote), from ONE
    * pass over the stream with per-key state = a single latest-reference
    * record. Within a micro-batch rows are processed in event-time
    * order; a reference that arrives across batches later than an
    * earlier probe cannot retroactively re-enrich it (streams trade
    * that for O(keys) state — the batch operator gives the exact
    * answer). Idle keys are purged via event-time timeout at
    * last-activity + `idleTimeoutSec` (state stays bounded). */
  def streamingAsOf(
      events: Dataset[Event],
      probeType: String,
      refType: String,
      watermark: String = "2 hours",
      idleTimeoutSec: Long = 86400): Dataset[AsOfEnriched] = {
    require(idleTimeoutSec > 0,
      s"idleTimeoutSec ($idleTimeoutSec) must be positive")
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == probeType || e.event_type == refType)
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RefState, AsOfEnriched](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[RefState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = Seq.newBuilder[AsOfEnriched]
            var cur = state.getOption
            var lastActivity = Long.MinValue
            sorted.foreach { e =>
              val t = e.ts.getTime
              lastActivity = math.max(lastActivity, t)
              if (e.event_type == refType) {
                if (cur.forall(_.ts <= t))
                  cur = Some(RefState(e.event_id, t, e.value))
              } else {
                // out-of-order guard: a stored ref newer than the probe
                // is not an at-or-before match
                val m = cur.filter(_.ts <= t)
                out += AsOfEnriched(e.event_id, e.ts, userId, e.value,
                  m.map(r => java.lang.Long.valueOf(r.eventId)).orNull,
                  m.map(r => new Timestamp(r.ts)).orNull,
                  m.map(r => java.lang.Double.valueOf(r.value)).orNull)
              }
            }
            cur.foreach(state.update)
            if (lastActivity != Long.MinValue)
              state.setTimeoutTimestamp(safeTimeout(state,
                lastActivity + idleTimeoutSec * 1000L))
            out.result().iterator
          }
      }
  }

  /** Event-time timeout that can never land at or before the current
    * watermark: Spark THROWS on such a timestamp (killing the whole
    * streaming query), and a legal-but-small idle timeout — or a key
    * whose latest event lags the global max event time by more than
    * watermark + idle — produces exactly that. Clamping to
    * watermark + 1ms keeps the purge semantics (the state is already
    * idle; it times out on the next watermark advance). */
  private def safeTimeout[S](state: GroupState[S], wanted: Long): Long =
    math.max(state.getCurrentWatermarkMs() + 1L, wanted)

  /** Streaming MinHash-LSH near-duplicate detection — online dedup at
    * ingest time, the streaming analogue of
    * [[graft.text.Dedup.minHashNearDups]].
    *
    * The per-document MinHash signature is a PURE PROJECTION (shingle →
    * hash → `array_min` per hash function — no explode + aggregate, so
    * it streams without an extra stateful stage); documents sharing any
    * full signature band land in the same band bucket, and each bucket
    * keeps ONE representative (the earliest document seen) as state.
    * An arriving document is verified EXACTLY against the
    * representative's full shingle set (Jaccard) and emitted as a
    * [[NearDupHit]] when it clears `minJaccard`.
    *
    * Streaming trade-offs vs the batch operator, both deliberate:
    * per-bucket state is one representative (O(doc length)) rather than
    * every member, so a document that near-dups a NON-representative
    * member goes unflagged (the batch pass remains the exact answer);
    * and a pair sharing several bands emits one hit per band —
    * `dropDuplicates("doc_id", "prior_id")` downstream if one row per
    * pair is needed. Idle buckets are purged via event-time timeout at
    * last-activity + `idleTimeoutSec`, so state stays bounded by the
    * active-bucket count, not the corpus. */
  def streamingNearDups(
      docs: Dataset[StreamDoc],
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.5,
      watermark: String = "2 hours",
      idleTimeoutSec: Long = 86400): Dataset[NearDupHit] = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    require(idleTimeoutSec > 0,
      s"idleTimeoutSec ($idleTimeoutSec) must be positive")
    import docs.sparkSession.implicits._
    import graft.text.TextOps
    val sets = docs
      .withColumn("__set", TextOps.shingles(TextOps.tokens(col("text")), n))
      .filter(size(col("__set")) > 0) // shingle-less docs have no signature
      .withColumn("__h0",
        transform(col("__set"), s => TextOps.hash56(s) % TextOps.HashP))
    val minCols = (0 until numHashes).map { j =>
      val (aj, bj) = TextOps.hashParams(j)
      array_min(transform(col("__h0"), h => (lit(aj) * h + lit(bj)) % TextOps.HashP))
    }
    val bandKeys = TextOps.bandKeyCols(minCols, bands)
    val banded = sets
      .select(explode(array(bandKeys: _*)).as("band"),
        col("doc_id"), col("ts"), col("__set").as("set"))
      .withWatermark("ts", watermark)
      .as[BandedDoc]
    banded
      .groupByKey(_.band)
      .flatMapGroupsWithState[BandRep, NearDupHit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (band: String, rows: Iterator[BandedDoc], state: GroupState[BandRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id))
            val out = Seq.newBuilder[NearDupHit]
            var rep = state.getOption
            var lastActivity = Long.MinValue
            sorted.foreach { d =>
              lastActivity = math.max(lastActivity, d.ts.getTime)
              rep match {
                case None =>
                  rep = Some(BandRep(d.doc_id, d.ts.getTime, d.set))
                case Some(r) if r.docId != d.doc_id =>
                  val a = r.set.toSet
                  val common = d.set.count(a.contains)
                  val j = common.toDouble / (a.size + d.set.size - common)
                  if (j >= minJaccard)
                    out += NearDupHit(d.doc_id, d.ts, r.docId, band,
                      BigDecimal(j).setScale(9,
                        BigDecimal.RoundingMode.HALF_UP).toDouble)
                case _ => // the representative itself re-arriving
              }
            }
            rep.foreach(state.update)
            if (lastActivity != Long.MinValue)
              state.setTimeoutTimestamp(safeTimeout(state,
                lastActivity + idleTimeoutSec * 1000L))
            out.result().iterator
          }
      }
  }

  /** Streaming chunk-level dedup — online ingest-time dedup of k-token
    * spans, the streaming analogue of [[graft.text.Rewrite.chunkDedup]]:
    * the first arrival of a chunk claims it (state keyed by the chunk
    * string), and every later occurrence — in other documents or
    * repeated within one — is emitted with `kept = false`. Output is
    * chunk-granular (one [[StreamChunk]] per occurrence, verdict
    * attached) so the consumer can rebuild cleaned documents by
    * filtering `kept` and re-joining in chunk_idx order without a
    * second stateful stage.
    *
    * Replayed over a corpus in doc_id order, the kept set equals the
    * batch operator's min-(doc_id, chunk_idx) keeper set exactly
    * (pinned by the StreamingSpec replay test). Trade-off, deliberate:
    * a chunk claim idle past `idleTimeoutSec` is evicted (state stays
    * bounded by the ACTIVE chunk vocabulary, not the corpus), after
    * which a much-later duplicate would be treated as fresh — the
    * batch pass remains the exact answer. */
  def streamingChunkDedup(
      docs: Dataset[StreamDoc],
      k: Int = 3,
      watermark: String = "2 hours",
      idleTimeoutSec: Long = 86400): Dataset[StreamChunk] = {
    require(idleTimeoutSec > 0,
      s"idleTimeoutSec ($idleTimeoutSec) must be positive")
    import docs.sparkSession.implicits._
    val occ = graft.text.Rewrite.chunkOccurrences(
        docs.toDF(), k = k, extraCols = Seq("ts"))
      .select("chunk", "doc_id", "ts", "chunk_idx")
      .withWatermark("ts", watermark)
      .as[ChunkRow]
    occ.groupByKey(_.chunk)
      .flatMapGroupsWithState[ChunkClaim, StreamChunk](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (chunk: String, rows: Iterator[ChunkRow], state: GroupState[ChunkClaim]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // ONE incremental lazy pass, O(1) group memory — never
            // `rows.toSeq.sortBy` (a viral boilerplate chunk arriving
            // in one batch would pile every occurrence into a single
            // task's heap). With an existing claim, every row's verdict
            // is immediate. With no claim yet, only the current BEST
            // candidate (min (ts, doc_id, chunk_idx) — the batch keeper
            // order) is held back; any row beaten by it can never be
            // the claimant and streams out `kept = false` on the spot.
            // The emitted SET is exactly the sorted pass's: claimant
            // true, everything else false. State is finalized by the
            // tail iterator after the last row is consumed (Spark
            // honors state updates made while the returned iterator
            // drains — the lazy-update contract of
            // flatMapGroupsWithState).
            var claim = state.getOption
            var pending: ChunkRow = null
            var lastActivity = Long.MinValue
            def lt(a: ChunkRow, b: ChunkRow): Boolean = {
              val (ta, tb) = (a.ts.getTime, b.ts.getTime)
              ta < tb || (ta == tb && (a.doc_id < b.doc_id ||
                (a.doc_id == b.doc_id && a.chunk_idx < b.chunk_idx)))
            }
            val mainIt = rows.flatMap { r =>
              lastActivity = math.max(lastActivity, r.ts.getTime)
              claim match {
                case Some(c) =>
                  Iterator.single(StreamChunk(r.doc_id, r.ts, r.chunk_idx,
                    chunk, c.docId == r.doc_id && c.chunkIdx == r.chunk_idx))
                case None =>
                  if (pending == null) { pending = r; Iterator.empty }
                  else if (lt(r, pending)) {
                    val beaten = pending; pending = r
                    Iterator.single(StreamChunk(beaten.doc_id, beaten.ts,
                      beaten.chunk_idx, chunk, kept = false))
                  } else
                    Iterator.single(StreamChunk(r.doc_id, r.ts, r.chunk_idx,
                      chunk, kept = false))
              }
            }
            val tailIt = new Iterator[StreamChunk] {
              private var finalized = false
              private var toEmit: StreamChunk = null
              private def finish(): Unit = if (!finalized) {
                finalized = true
                if (pending != null) {
                  claim = Some(ChunkClaim(pending.doc_id, pending.chunk_idx,
                    pending.ts.getTime))
                  toEmit = StreamChunk(pending.doc_id, pending.ts,
                    pending.chunk_idx, chunk, kept = true)
                }
                claim.foreach(c => state.update(c.copy(lastTs = lastActivity)))
                if (lastActivity != Long.MinValue)
                  state.setTimeoutTimestamp(safeTimeout(state,
                    lastActivity + idleTimeoutSec * 1000L))
              }
              override def hasNext: Boolean = { finish(); toEmit != null }
              override def next(): StreamChunk = {
                finish()
                if (toEmit == null) throw new NoSuchElementException
                val e = toEmit; toEmit = null; e
              }
            }
            mainIt ++ tailIt
          }
      }
  }

  /** Watermark-bounded WITHIN-STREAM exact document dedup (round 13,
    * VERDICT r12 residue #5) — the `dropDuplicates`-with-TTL twin of
    * [[graft.text.Dedup.exactDuplicates]]: the first arrival of each
    * content hash passes, every re-delivery or exact duplicate
    * arriving within the watermark horizon drops, and the engine
    * PURGES a hash's state once the watermark passes its arrival
    * (bounded memory at any scale — the one standard streaming dedup
    * op the stateless static-artifact gates don't cover). Built on
    * Spark's own `dropDuplicatesWithinWatermark`, so state lives in
    * the configured state store (RocksDB-pinned in RocksDbStateSpec).
    *
    * State bound: one row (content hash + expiry timestamp) per
    * DISTINCT content seen within the watermark horizon — never
    * corpus-bound. Trade-off, deliberate and documented: a duplicate
    * arriving AFTER its original's state purged is treated as fresh;
    * the batch operator (or the Bloom gate against a persisted
    * artifact, [[streamingBloomGate]]) remains the whole-corpus
    * answer. Keyed on md5(text) — the batch operator's content hash —
    * which rides along in the output. */
  def streamingDocDedup(
      docs: Dataset[StreamDoc],
      watermark: String = "2 hours"): DataFrame =
    docs.toDF()
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming QUALITY GATE, rule half: [[graft.text.TextStats
    * .gopherRulesStateless]] applied to the document stream — a pure
    * per-row projection (the top-2-gram share is an in-row sorted-run
    * HOF, not an aggregate), so it needs no state, no watermark, and
    * no shuffle, and its output is column-identical to the batch
    * `gopherRules` table (replay-pinned in StreamingSpec). */
  def streamingGopherRules(docs: Dataset[StreamDoc]): DataFrame =
    graft.text.TextStats.gopherRulesStateless(docs.toDF(),
      extraCols = Seq("ts"))

  /** Streaming PHRASE GATE: per-document "contains phrase X" verdicts
    * at ingest rate — the in-row spelling of
    * [[graft.text.Search.phraseOccurrences]] (one token-array HOF per
    * row; no index, no state, no watermark, no shuffle). Start
    * positions replay the batch index walk exactly (StreamingSpec
    * pins the exploded starts against phraseSearch). */
  def streamingPhraseGate(
      docs: Dataset[StreamDoc],
      phrase: Seq[String]): DataFrame =
    graft.text.Search.phraseGate(docs.toDF(), phrase)

  /** Stateless PHRASE-SET gate at ingest rate — the streaming twin of
    * the multi-phrase batch walk (the decontamination shape): the
    * whole eval set rides one broadcast kernel pass per row
    * ([[graft.text.Search.phraseSetGate]] — projection + posexplode,
    * no state, no watermark, no shuffle). */
  def streamingPhraseSetGate(
      docs: Dataset[StreamDoc],
      phrases: Seq[Seq[String]]): DataFrame =
    graft.text.Search.phraseSetGate(docs.toDF(), phrases)

  /** Streaming CHARACTER-level blocklist gate: the Aho–Corasick scan
    * ([[graft.text.Blocklist.blocklistGate]]) is one stateless
    * projection — no index, no join, no aggregation — so the batch
    * operator runs unchanged at ingest rate. */
  def streamingBlocklistGate(
      docs: Dataset[StreamDoc],
      patterns: Seq[String]): DataFrame =
    graft.text.Blocklist.blocklistGate(docs.toDF(), patterns)

  /** Streaming REDACTION: the scrub ([[graft.text.Blocklist
    * .redactDocs]]) is the same stateless kernel projection, so PII /
    * canary masking runs at ingest rate before anything persists the
    * raw text. */
  def streamingRedact(
      docs: Dataset[StreamDoc],
      patterns: Seq[String],
      mask: Char = '*'): DataFrame =
    graft.text.Blocklist.redactDocs(docs.toDF(), patterns, mask = mask)

  /** Streaming CANONICALIZATION: the leftmost-longest dictionary
    * replacement ([[graft.text.Blocklist.canonicalizeDocs]]) is the
    * same stateless kernel projection — alias and typo normalization
    * runs at ingest rate, upstream of every content hash. */
  def streamingCanonicalize(
      docs: Dataset[StreamDoc],
      mappings: Seq[(String, String)]): DataFrame =
    graft.text.Blocklist.canonicalizeDocs(docs.toDF(), mappings)

  /** Streaming REGEX gate: the anchor-prefiltered regex scan
    * ([[graft.text.Blocklist.rxGate]]) is a stateless kernel
    * projection, so secret/PII shape screening runs at ingest rate —
    * clean documents never touch the regex engine. */
  def streamingRxGate(
      docs: Dataset[StreamDoc],
      needles: Seq[(String, String, Int)]): DataFrame =
    graft.text.Blocklist.rxGate(docs.toDF(), needles)

  /** Streaming REGEX redaction ([[graft.text.Blocklist.rxRedact]]):
    * shape-based PII masking before anything persists the raw
    * text — the regex sibling of [[streamingRedact]]. */
  def streamingRxRedact(
      docs: Dataset[StreamDoc],
      needles: Seq[(String, String, Int)],
      mask: Char = '*'): DataFrame =
    graft.text.Blocklist.rxRedact(docs.toDF(), needles, mask = mask)

  /** The full SCRUB STACK on a stream (round 14 —
    * [[graft.text.Blocklist.scrubStack]] is a chain of pure
    * projections, so the composed canonicalize → gate-both-families →
    * redact-in-order card applies to in-flight documents unchanged;
    * StreamingSpec pins the stream replay bitwise against the batch
    * card). */
  def streamingScrubStack(
      docs: Dataset[StreamDoc],
      mappings: Seq[(String, String)],
      patterns: Seq[String],
      needles: Seq[(String, String, Int)],
      mask: Char = '*'): DataFrame =
    graft.text.Blocklist.scrubStack(docs.toDF(), mappings, patterns,
      needles, mask = mask)

  /** Windowed needle MONITORING — the alarm face of the blocklist
    * scan: per (event-time window, pattern) the document count, hit
    * documents, and total occurrences, emitted when the watermark
    * closes the window ("this hour's crawl spiked on canary #3").
    * The scan is the stateless kernel projection; the only state is
    * the windows-x-patterns aggregate (bounded: |patterns| longs per
    * open window). Running the same operator over a batch frame is
    * the oracle-able twin (the watermark is a no-op there) —
    * replay-pinned in StreamingSpec. */
  def streamingBlocklistCounts(
      docs: Dataset[StreamDoc],
      patterns: Seq[String],
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    docs.toDF()
      .withWatermark("ts", watermark)
      // broadcast on the OWNING frame's session, not SparkSession
      // .active — the discipline every other DataFrame face follows
      // (advice r12)
      .withColumn("__hits", graft.text.Blocklist.hitsColOn(
        docs.sparkSession, col("text"), patterns))
      .select(window(col("ts"), windowLength).as("window"),
        posexplode(col("__hits")).as(Seq("pattern_id", "n_hits")))
      .groupBy(col("window"), col("pattern_id").cast("long").as("pattern_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") > 0L, 1L).otherwise(0L)).as("n_docs_hit"),
        sum(col("n_hits")).as("n_hits"))
      .select(col("window.start").as("window_start"), col("pattern_id"),
        col("n_docs"), col("n_docs_hit"), col("n_hits"))

  /** Streaming QUALITY GATE, corpus half: online boilerplate detection,
    * the streaming analogue of [[graft.text.Rewrite.stripBoilerplate]].
    * State per chunk tracks the distinct-document frequency UP TO
    * `maxDf + 1` ids (then collapses to a permanent `over` flag — state
    * is O(maxDf) per chunk, never corpus-bound). Verdicts are
    * batch-consistent WITHIN a micro-batch: a chunk's occurrences in
    * the batch that pushes it over the threshold are all emitted
    * `kept = false` (the batch operator's everywhere-drop), so replaying
    * the corpus as one batch reproduces `stripBoilerplate` verdicts
    * exactly (pinned). Online drift, deliberate and documented: kept
    * verdicts already emitted in EARLIER batches cannot be retracted
    * when a chunk later crosses the threshold — the batch pass remains
    * the exact answer (the [[streamingChunkDedup]] trade-off).
    *
    * Memory bound, deliberate: a group buffers its batch occurrences
    * only WHILE the chunk is at-or-under `maxDf` distinct docs (the
    * batch verdict needs the batch's full df delta); once `over`, every
    * later occurrence streams through one-in-one-out. A viral
    * boilerplate chunk therefore buffers at most its first-batch
    * occurrences across <= maxDf + 1 documents, and nothing ever
    * again. */
  def streamingBoilerplate(
      docs: Dataset[StreamDoc],
      k: Int = 3,
      maxDf: Int = 4,
      watermark: String = "2 hours",
      idleTimeoutSec: Long = 86400): Dataset[StreamChunk] = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    require(idleTimeoutSec > 0,
      s"idleTimeoutSec ($idleTimeoutSec) must be positive")
    import docs.sparkSession.implicits._
    val occ = graft.text.Rewrite.chunkOccurrences(
        docs.toDF(), k = k, extraCols = Seq("ts"))
      .select("chunk", "doc_id", "ts", "chunk_idx")
      .withWatermark("ts", watermark)
      .as[ChunkRow]
    occ.groupByKey(_.chunk)
      .flatMapGroupsWithState[ChunkDfState, StreamChunk](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (chunk: String, rows: Iterator[ChunkRow],
            state: GroupState[ChunkDfState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.getOrElse(
              ChunkDfState(Seq.empty, over = false, Long.MinValue))
            var lastActivity = st.lastTs
            if (st.over) {
              // permanent boilerplate: lazy one-in-one-out pass-through
              val mainIt = rows.map { r =>
                lastActivity = math.max(lastActivity, r.ts.getTime)
                StreamChunk(r.doc_id, r.ts, r.chunk_idx, chunk, kept = false)
              }
              val tailIt = new Iterator[StreamChunk] {
                private var finalized = false
                override def hasNext: Boolean = {
                  if (!finalized) {
                    finalized = true
                    state.update(ChunkDfState(Seq.empty, over = true,
                      lastActivity))
                    state.setTimeoutTimestamp(safeTimeout(state,
                      lastActivity + idleTimeoutSec * 1000L))
                  }
                  false
                }
                override def next(): StreamChunk =
                  throw new NoSuchElementException
              }
              mainIt ++ tailIt
            } else {
              // under threshold: the batch verdict needs this batch's
              // full df delta, so buffer this chunk's batch occurrences
              // (bounded — see scaladoc) and emit with the post-batch
              // verdict: batch-consistent everywhere-drop
              val batch = rows.toArray
              val ids = scala.collection.mutable.LinkedHashSet(st.docIds: _*)
              batch.foreach { r =>
                lastActivity = math.max(lastActivity, r.ts.getTime)
                if (ids.size <= maxDf) ids += r.doc_id
              }
              val over = ids.size > maxDf
              state.update(
                if (over) ChunkDfState(Seq.empty, over = true, lastActivity)
                else ChunkDfState(ids.toSeq, over = false, lastActivity))
              state.setTimeoutTimestamp(safeTimeout(state,
                lastActivity + idleTimeoutSec * 1000L))
              batch.iterator.map(r =>
                StreamChunk(r.doc_id, r.ts, r.chunk_idx, chunk, !over))
            }
          }
      }
  }

  /** Gap-timeout sessionization: consecutive events of a user belong to
    * one session until `gapSeconds` of event-time silence; closed
    * sessions are emitted via flatMapGroupsWithState with event-time
    * timeout (state bounded by watermark + active-user count). */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long = 1800,
      watermark: String = "2 hours"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionSummary]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapSeconds * 1000L =>
                  cur = Some(SessionState(s.start, math.max(s.last, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionSummary(userId, new Timestamp(s.start),
                    new Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(safeTimeout(state,
                s.last + gapSeconds * 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch sessionization — the offline twin of [[sessionize]], and
    * the oracle-able one (gap cuts are one SQL window): consecutive
    * events of a user belong to one session until more than
    * `gapSeconds` of silence; summaries mirror [[SessionSummary]].
    *
    * Semantics are aligned with the streaming operator bit-for-bit on
    * the session KEYS (user, start, end, n): times compare at
    * MILLISECOND granularity (the streaming state works in epoch ms),
    * and start/end are reported ms-truncated. Only `total_value`
    * differs representationally: here it is an exact cents-grid sum
    * (order-independent, engine-replayable — the q_panel revenue
    * pattern), while the streaming fold sums doubles in event order;
    * StreamingSpec pins key equality exactly and totals at 1e-9.
    *
    * Scale shape: one window partitioned BY USER (sessionization is
    * inherently per-user sequential — the same per-group order the
    * streaming state walks; per-user event volume, not corpus volume,
    * bounds a task) + one map-side-combinable aggregate per session. */
  def batchSessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("__ms", "event_id")
    val cut = Window.partitionBy("user_id").orderBy("__ms", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      // ts ships as TIMESTAMP or TIMESTAMP_NTZ depending on the parquet
      // generation; the session runs UTC, so the cast is
      // instant-preserving either way. Micros -> ms must FLOOR, not
      // truncate toward zero (advice r8): Spark's `div` truncates, so a
      // pre-1970 instant would land 1 ms later than the oracle's floor
      // division (`epoch_us(ts) // 1000`) and could move a gap cut.
      // pmod is non-negative, so (us - pmod(us, 1000)) div 1000 is
      // exact floor for either sign; post-epoch data is unchanged.
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("__us"),
        expr("cast(round(value * 100) as bigint)").as("__cents"))
      .withColumn("__ms", expr("(__us - pmod(__us, 1000)) div 1000"))
      .drop("__us")
      .withColumn("__gap",
        when(col("__ms") - lag("__ms", 1).over(w) > gapSeconds * 1000L ||
          lag("__ms", 1).over(w).isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("__session", sum("__gap").over(cut))
      .groupBy("user_id", "__session")
      .agg(
        timestamp_millis(min("__ms")).cast("timestamp_ntz")
          .as("session_start"),
        timestamp_millis(max("__ms")).cast("timestamp_ntz")
          .as("session_end"),
        count(lit(1)).as("n_events"),
        (sum("__cents").cast("double") / 100.0).as("total_value"))
      .drop("__session")
  }

  /** Streaming QUALITY GATE, history half: Bloom-filter membership of
    * each arriving document against the ACCEPTED CORPUS SO FAR — the
    * online face of [[graft.text.Bloom.incrementalDedup]]. The filter
    * is built once from the existing corpus (one aggregate pass,
    * [[graft.text.Bloom.buildFilter]]) and probed as a pure per-row
    * projection: no state, no watermark, no shuffle — the m-bit words
    * ride a real Spark broadcast ([[graft.functions
    * .BloomContainsBcast]]), fetched once per executor. Verdicts are
    * bit-identical to the batch probe on the same rows (replay-pinned
    * in StreamingSpec); `maybe_seen = false` is exact (Bloom filters
    * have no false negatives), so a gate that drops only
    * `maybe_seen = true` rows after an exact recheck never loses a
    * genuinely new document.
    *
    * Deliberate boundary, documented: the filter is a SNAPSHOT —
    * in-flight documents do not add bits, so duplicates WITHIN the
    * stream pass the gate and are caught by the stateful
    * [[streamingChunkDedup]]/exact-dedup stages downstream. Refreshing
    * the snapshot between micro-batch epochs (rebuild + swap) is the
    * operational pattern for continuous ingest. */
  def streamingBloomGate(
      docs: Dataset[StreamDoc],
      filter: Array[Long],
      mBits: Int,
      k: Int): DataFrame =
    graft.text.Bloom.probeBcast(docs.toDF(), "text", filter, mBits, k)

  /** Streaming HLL sketch maintenance — online distinct-count
    * profiling ("distinct users / URLs / tokens per hour") with
    * BOUNDED state on an unbounded stream: the exact-distinct
    * formulation keeps every key in window state; this keeps at most
    * m = 2^p register rows per window (max-combined incrementally
    * across micro-batches, purged with the watermark).
    *
    * The output is the REGISTER TABLE, not the estimate — deliberately:
    * registers are the mergeable artifact ([[graft.stats.Hll]]'s
    * semilattice — per-bucket max), so the stored stream output answers
    * "distinct over any union of closed windows" via
    * [[graft.stats.Hll.mergeRegisters]] + `estimateFromRegisters`
    * without re-reading events, and chaining a second streaming
    * aggregation (registers → estimate) is unnecessary. The registers
    * are BIT-IDENTICAL to the batch [[graft.stats.Hll.registerTable]]
    * over the same rows — same hash, same buckets, same maxes
    * (StreamingSpec replays a corpus both ways and pins register
    * equality and estimate equality), so estimates read off the
    * streamed sketch carry the batch oracle's bit-reproducibility.
    *
    * @return append-mode rows (window_start, __bucket, __r) once the
    *         watermark closes each window
    */
  /** Streaming INGEST GATE — the online face of the batch
    * corpus-refresh pipeline's gate + quality stages (q_corpus_pipeline)
    * composed as ONE stateless projection chain: the Bloom history
    * probe against the accepted-corpus snapshot
    * ([[streamingBloomGate]]'s kernel), the gopher rules
    * ([[graft.text.TextStats.gopherRulesStateless]]), and the
    * pre-trained quality classifier
    * ([[graft.text.Classifier.classifyStateless]] — the margin is
    * linear in the hashed features, so the per-row fold is bitwise the
    * batch score). No state, no watermark, no shuffle: per-document
    * verdicts at ingest rate on an unbounded stream.
    *
    * `admitted` = not maybe-seen AND both quality halves pass — the
    * conservative online verdict: the maybe-seen sliver awaits the
    * exact recheck (a Bloom has no false negatives, so `maybe_seen =
    * false` admissions are exact), and the dedup/merge/shard stages
    * remain the downstream stateful/batch halves, exactly as in the
    * batch composite. Every column is replay-pinned bitwise against
    * the batch stages in StreamingSpec. */
  def streamingIngestGate(
      docs: Dataset[StreamDoc],
      filter: Array[Long],
      mBits: Int,
      k: Int,
      weights: Array[Long],
      dim: Int = 64,
      threshold: Double = 0.5): DataFrame = {
    val probed = graft.text.Bloom.probeBcast(
      docs.toDF(), "text", filter, mBits, k)
    val gq = graft.text.TextStats.gopherRulesStateless(probed,
      extraCols = Seq("ts", "text", "maybe_seen"))
    graft.text.Classifier.classifyStateless(gq, weights, dim, threshold)
      .withColumn("admitted",
        !col("maybe_seen") && col("quality_pass") === 1 &&
          col("predicted") === 1)
      .drop("text")
  }

  /** Streaming LM-perplexity gate — the CCNet quality stage online
    * (round 10): each arriving document's KN-bigram perplexity against
    * a PRE-TRAINED pruned broadcast model
    * ([[graft.text.LmPerplexity.collectModel]] over a
    * [[graft.text.LmPerplexity.pruneVocab]]'d reference), as a pure
    * per-row projection — the
    * [[graft.functions.LmScoreBcast]] kernel walks the token array
    * once; no state, no watermark, no shuffle. Because every
    * per-bigram log-prob snaps to the 1e-6 grid before the fold's
    * long addition, the streamed score is BITWISE the batch
    * [[graft.text.LmPerplexity.score]] on the same pruned corpus
    * (StreamingSpec replay-pins it).
    *
    * `admitted` = ppl <= maxPpl (token-less docs carry ppl −1 and
    * admit — an empty doc has no LM evidence against it; compose with
    * the gopher length gate for the real pipeline).
    * @return input columns + (n_bigrams, lp_micro, ppl, admitted) */
  def streamingLmGate(
      docs: DataFrame,
      model: org.apache.spark.broadcast.Broadcast[graft.text.LmPerplexity.LmModel],
      maxPpl: Double,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = graft.text.TextOps.tokens(col(textCol))
    val lp = column(graft.functions.LmScoreBcast(expression(toks), model))
    docs
      .withColumn("n_bigrams", size(toks).cast("long"))
      .withColumn("lp_micro", lp)
      .withColumn("ppl",
        when(col("n_bigrams") > 0L,
          round(exp(col("lp_micro").cast("double") * lit(-1.0) / lit(1e6) /
            col("n_bigrams")), 6))
          .otherwise(lit(-1.0)))
      .withColumn("admitted",
        col("n_bigrams") === 0L || col("ppl") <= lit(maxPpl))
  }

  /** [[streamingLmGate]] on the TRIGRAM tier (round 18): the same
    * stateless one-walk gate through the broadcast
    * [[graft.functions.LmScore3Bcast]] model — bitwise equal to the
    * join-based `score3` (LmPerplexitySpec pins it), so the deployed
    * stream gate and the offline tercile split score identically. */
  def streamingLmGate3(
      docs: DataFrame,
      model: org.apache.spark.broadcast.Broadcast[graft.text.LmPerplexity.LmModel3],
      maxPpl: Double,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = graft.text.TextOps.tokens(col(textCol))
    val lp = column(graft.functions.LmScore3Bcast(expression(toks), model))
    docs
      .withColumn("n_trigrams", size(toks).cast("long"))
      .withColumn("lp_micro", lp)
      .withColumn("ppl",
        when(col("n_trigrams") > 0L,
          round(exp(col("lp_micro").cast("double") * lit(-1.0) / lit(1e6) /
            col("n_trigrams")), 6))
          .otherwise(lit(-1.0)))
      .withColumn("admitted",
        col("n_trigrams") === 0L || col("ppl") <= lit(maxPpl))
  }

  /** [[streamingLmGate]] at ANY order (round 14): the stateless
    * one-walk gate through the broadcast
    * [[graft.functions.LmScoreNBcast]] model — bitwise equal to the
    * join-based `scoreN` (LmPerplexitySpec pins it), so the deployed
    * stream gate and the offline tercile split score identically at
    * the CCNet-published 5-gram order too. */
  def streamingLmGateN(
      docs: DataFrame,
      model: org.apache.spark.broadcast.Broadcast[graft.text.LmPerplexity.LmModelN],
      maxPpl: Double,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val toks = graft.text.TextOps.tokens(col(textCol))
    val lp = column(graft.functions.LmScoreNBcast(expression(toks), model))
    docs
      .withColumn("n_events", size(toks).cast("long"))
      .withColumn("lp_micro", lp)
      .withColumn("ppl",
        when(col("n_events") > 0L,
          round(exp(col("lp_micro").cast("double") * lit(-1.0) / lit(1e6) /
            col("n_events")), 6))
          .otherwise(lit(-1.0)))
      .withColumn("admitted",
        col("n_events") === 0L || col("ppl") <= lit(maxPpl))
  }

  /** A small-file-MANAGED parquet sink (round 14 — the maintenance
    * loop a streaming sink needs to survive at 100 TB): pass the
    * returned function to `writeStream.foreachBatch`. Every
    * micro-batch appends through ONE atomic manifest commit
    * ([[graft.operators.Compact.appendManaged]] — readers resolve the
    * whole batch or none of it), and every `compactEvery` batches the
    * directory re-bin-packs IN PLACE
    * ([[graft.operators.Compact.binPackInPlace]] — large files
    * untouched, one manifest commit), so the small-file tail stays
    * bounded while [[graft.operators.Compact.read]] is consistent at
    * every instant.
    *
    * EXACTLY-ONCE (round 15, advice r14): `foreachBatch` is
    * at-least-once — after a crash between the sink's manifest commit
    * and the stream's checkpoint commit, Structured Streaming REPLAYS
    * the last batch id. The sink therefore passes `(txnAppId,
    * batchId)` to `appendManaged`, which records the token in the
    * manifest and NO-OPS any batch id at or below the committed one
    * (the Delta txnAppId/txnVersion pattern), so the replay appends
    * nothing. `txnAppId` must be stable across restarts and unique
    * per writer — keep the default for the one-stream-per-directory
    * deployment; give each stream its own id if several append to one
    * path. StreamingSpec drives the loop end to end, replay included.
    *
    * `vacuumEvery > 0` closes the maintenance loop end to end (round
    * 15): every `vacuumEvery` batches the sink reclaims tombstoned
    * files and superseded manifests older than `retentionMillis`
    * through [[graft.operators.Compact.vacuum]] — pick a retention
    * above the longest concurrent reader's scan time, exactly the
    * Delta contract. The `clock` is injected for deterministic
    * tests. */
  def managedParquetSink(path: String, targetBytes: Long,
      compactEvery: Long,
      txnAppId: String = "graft-managed-sink",
      vacuumEvery: Long = 0L,
      retentionMillis: Long = 0L,
      clock: () => Long = () => System.currentTimeMillis())
      : (DataFrame, Long) => Unit =
  { (batch, id) =>
    graft.operators.Compact.appendManaged(batch.sparkSession, path,
      batch, txn = Some((txnAppId, id))): Unit
    if (compactEvery > 0L && (id + 1L) % compactEvery == 0L)
      graft.operators.Compact.binPackInPlace(batch.sparkSession, path,
        targetBytes, nowMillis = clock()): Unit
    if (vacuumEvery > 0L && (id + 1L) % vacuumEvery == 0L)
      graft.operators.Compact.vacuum(batch.sparkSession, path,
        retentionMillis, clock()): Unit
  }

  /** [[managedParquetSink]] for a HIVE-PARTITIONED table (round 15 —
    * the deployment shape: a stream lands `dt=…/source=…` leaves, and
    * each micro-batch carries many partition values): every batch
    * routes through ONE partitioned write into per-leaf atomic
    * manifest commits
    * ([[graft.operators.Compact.appendManagedPartitioned]]), with the
    * `(txnAppId, batchId)` token recorded PER LEAF — a replayed batch
    * no-ops the leaves it already committed and lands exactly the
    * missing ones, so retries converge to exactly-once leaf by leaf.
    * Maintenance composes the partitioned verbs: `compactEvery`
    * batches → [[graft.operators.Compact.binPackPartitionedInPlace]]
    * (pooled per-leaf rewrite waves), `vacuumEvery` →
    * [[graft.operators.Compact.vacuumPartitioned]]. Readers go
    * through [[graft.operators.Compact.readPartitioned]]. */
  def managedParquetSinkPartitioned(path: String,
      partitionCols: Seq[String], targetBytes: Long,
      compactEvery: Long,
      txnAppId: String = "graft-managed-sink",
      vacuumEvery: Long = 0L,
      retentionMillis: Long = 0L,
      clock: () => Long = () => System.currentTimeMillis())
      : (DataFrame, Long) => Unit =
  { (batch, id) =>
    graft.operators.Compact.appendManagedPartitioned(batch.sparkSession,
      path, batch, partitionCols, txn = Some((txnAppId, id))): Unit
    if (compactEvery > 0L && (id + 1L) % compactEvery == 0L)
      graft.operators.Compact.binPackPartitionedInPlace(batch.sparkSession,
        path, targetBytes, nowMillis = clock()): Unit
    if (vacuumEvery > 0L && (id + 1L) % vacuumEvery == 0L)
      graft.operators.Compact.vacuumPartitioned(batch.sparkSession, path,
        retentionMillis, clock()): Unit
  }

  def streamingHllRegisters(
      events: DataFrame,
      key: Column,
      p: Int,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val (bucket, rho) = graft.stats.Hll.bucketRho(key, p)
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLength).as("window"),
        bucket.as("__bucket"), rho.as("__rho"))
      .groupBy(col("window"), col("__bucket"))
      .agg(max("__rho").as("__r"))
      .select(col("window.start").as("window_start"),
        col("__bucket"), col("__r"))
  }

  /** Streaming Count-Min sketch maintenance — online frequency
    * profiling with bounded state, the CMS face of
    * [[streamingHllRegisters]]: at most d*w counter rows per window
    * (summed incrementally across micro-batches — counts are algebraic
    * — and purged with the watermark), instead of per-key state for an
    * unbounded key set.
    *
    * Emits the COUNTER TABLE ([[graft.stats.Cms.counterTable]] layout:
    * `__pos`, `__c` per window): counters are the mergeable artifact
    * (per-cell sum), so stored window sketches answer point queries
    * over any horizon via [[graft.stats.Cms.mergeCounterTables]] +
    * `estimate`, and the streamed cells are bit-identical to the batch
    * build over the same rows (StreamingSpec pins cell equality and
    * estimate equality).
    *
    * @return append-mode rows (window_start, __pos, __c)
    */
  def streamingCmsCounters(
      events: DataFrame,
      key: Column,
      w: Int,
      d: Int,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLength).as("window"),
        explode(graft.stats.Cms.positions(key, w, d)).as("__pos"))
      .groupBy(col("window"), col("__pos"))
      .agg(count(lit(1)).as("__c"))
      .select(col("window.start").as("window_start"),
        col("__pos"), col("__c"))

  /** Streaming KMV sketch maintenance — the theta-sketch face of
    * [[streamingHllRegisters]]/[[streamingCmsCounters]], closing the
    * online sketch family: one ≤ k-value buffer per open window (the
    * [[graft.functions.KmvAgg]] state, serialized into the state
    * store), purged with the watermark. Because the retained set is a
    * pure function of the window's value set, the streamed array is
    * bit-identical to the batch sketch over the same rows regardless
    * of micro-batch boundaries (StreamingSpec pins it value-for-value).
    *
    * The payoff over the HLL registers: stored window arrays COMPOSE —
    * [[graft.stats.Kmv.unionSketch]] rolls any horizon of window
    * sketches into one, and [[graft.stats.Kmv.intersectEstimate]]
    * answers "how many keys did windows A and B share?" from the
    * arrays alone, a question registers cannot answer.
    *
    * @return append-mode rows (window_start, kmv ascending array)
    */
  def streamingKmvSketch(
      events: DataFrame,
      key: Column,
      k: Int,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val agg = column(graft.functions.KmvAgg(
      expression(col("__h")), k).toAggregateExpression())
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLength).as("window"),
        graft.stats.Kmv.hashCol(key).as("__h"))
      .groupBy(col("window"))
      .agg(agg.as("kmv"))
      .select(col("window.start").as("window_start"), col("kmv"))
  }

  /** Streaming embedding outlier gate — the online face of
    * [[graft.vector.Embeddings.outlierScores]] in the production
    * split: the per-cell distance moments are the BATCH-computed,
    * persisted artifact ([[graft.vector.Embeddings.cellStats]]);
    * the stream scores each arriving vector STATELESSLY — one kernel
    * evaluation for cell + grid distance, one broadcast join against
    * the bounded stats frame, the identical 4-IEEE-op z. Streamed z
    * values are bit-identical to the batch pass that produced the
    * stats (StreamingSpec pins it). A z above the caller's cut flags
    * an encoder failure / off-distribution vector at ingest time. */
  def streamingOutlierGate(
      vecs: Dataset[StreamVec],
      centroids: Array[Array[Double]],
      stats: DataFrame): DataFrame = {
    val assigned = graft.vector.Embeddings.assignDist(
      vecs.toDF().withColumn("embedding",
        col("embedding").cast("array<float>")),
      centroids, "vec_id", "embedding", passthrough = Seq("ts"))
    graft.vector.Embeddings.scoreAgainstStats(assigned, stats, "vec_id",
      passthrough = Seq("ts"))
  }

  /** Streaming AUDIO ENERGY gate: per-window energy/silence verdicts
    * at ingest rate — [[graft.multimodal.Multimodal.audioEnergyWindows]]
    * is a stateless mapPartitions over the real WAV decode boundary,
    * so the batch operator runs UNCHANGED on a stream (the RangeJoin
    * stream-safety pattern: no state, no watermark, no shuffle).
    * StreamingSpec replay-pins streamed windows == batch across a
    * micro-batch boundary. */
  def streamingAudioEnergy(
      samples: Dataset[graft.multimodal.MediaSample],
      windowSamples: Int = 8,
      silenceMeanSquare: Long = 100L): DataFrame =
    graft.multimodal.Multimodal.audioEnergyWindows(
      samples, windowSamples, silenceMeanSquare)(samples.sparkSession)

  /** Streaming silence TRIM at ingest rate — the keep/trim verdict +
    * re-encoded kept payload ([[graft.multimodal.Multimodal.audioTrim]]
    * is a stateless mapPartitions, so it runs unchanged on a stream;
    * replay-pinned in StreamingSpec). The storage-side composition: a
    * sink keeps only `payload` where `keep`, shipping
    * Σ(n_kept)/Σ(n) of the raw audio bytes. */
  def streamingAudioTrim(
      samples: Dataset[graft.multimodal.MediaSample],
      windowSamples: Int = 8,
      silenceMeanSquare: Long = 100L): DataFrame =
    graft.multimodal.Multimodal.audioTrim(
      samples, windowSamples, silenceMeanSquare)(samples.sparkSession)

  /** Streaming cross-corpus near-dup gate — the online face of
    * [[graft.text.Dedup.crossCorpusNearDups]] (the Bloom-gate pattern
    * at LSH granularity): each streamed document computes its MinHash
    * band keys PER ROW (min over the shingle array per hash function —
    * an array HOF, not a groupBy, so the gate is STATELESS), joins the
    * static corpus-side band-bucket frame, and verifies candidates
    * with the exact n-gram Jaccard against the corpus shingle sets.
    * The static side derives from the same persisted [[graft.text
    * .Dedup.shingleSets]] artifact the batch join uses — persist it,
    * or every micro-batch recomputes it.
    *
    * Output: one row per (doc, corpus doc, matching band) above
    * `minJaccard` — the per-band form [[streamingNearDups]] also uses
    * (a stateless stream cannot `distinct` across bands; collapse
    * downstream). Docs with no row are genuinely new content.
    * Per-row signature values are bit-identical to the batch
    * signature build (same hash family over the same shingle set). */
  def streamingCrossCorpusGate(
      docs: Dataset[StreamDoc],
      corpusSets: DataFrame,
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    import graft.text.TextOps
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    def signature(set: Column): Seq[Column] =
      (0 until numHashes).map { j =>
        val (aj, bj) = TextOps.hashParams(j)
        array_min(transform(set,
          g => (lit(aj) * (TextOps.hash56(g) % TextOps.HashP) + lit(bj))
            % TextOps.HashP)).as(s"__m$j")
      }
    def withBands(df: DataFrame, setCol: String): DataFrame = {
      val sig = df.select(df.columns.map(col) ++ signature(col(setCol)): _*)
      val keys = TextOps.bandKeyCols(
        (0 until numHashes).map(j => col(s"__m$j")), bands)
      sig.select(df.columns.map(col) :+ explode(array(keys: _*)).as("__bk"): _*)
    }
    val corpusBands = withBands(
      corpusSets.select(col("__id").as("corpus_id"),
        col("__set").as("__cset"), col("__sz").as("__csz")), "__cset")
    val stream = withBands(docs.toDF()
      .withColumn("__set", TextOps.shingles(TextOps.tokens(col("text")), n))
      .withColumn("__sz", size(col("__set")))
      .filter(col("__sz") > 0)
      .select("doc_id", "ts", "__set", "__sz"), "__set")
    stream.join(corpusBands, Seq("__bk"))
      .withColumn("__common",
        size(array_intersect(col("__set"), col("__cset"))))
      .withColumn("jaccard",
        round(col("__common").cast("double") /
          (col("__sz") + col("__csz") - col("__common")), 9))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id"), col("ts"), col("corpus_id"), col("__bk").as("band"),
        col("jaccard"))
  }

  /** Streaming top-k per key — the online face of the
    * [[graft.plans.TopKPerKey]] batch operator: per (event-time
    * window, key) the k best rows by `ord` (DESC, ties by id ASC),
    * emitted when the watermark closes the window. Runs on the
    * windowed-aggregation path via [[graft.functions.TopKPairsAgg]]
    * (a TypedImperativeAggregate composes with streaming groupBy +
    * watermark where a custom physical operator cannot); state is
    * O(k) per open (window, key) — the leaderboard / per-source
    * top-documents shape. The retained set is a pure function of the
    * input pair set, so streamed output is bit-identical to running
    * the same function over the batch (StreamingSpec replay-pins it).
    *
    * @return append-mode rows (window_start, <key>, rank 1..k, ord,
    *         id), rank-ordered within each group */
  def streamingTopKPerKey(
      events: DataFrame,
      key: Column,
      ord: Column,
      id: Column,
      k: Int,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val agg = column(graft.functions.TopKPairsAgg(
      expression(col("__ord")), expression(col("__id")), k)
      .toAggregateExpression())
    events
      .withWatermark("ts", watermark)
      .select(window(col("ts"), windowLength).as("window"), key.as("__key"),
        ord.cast("double").as("__ord"), id.cast("long").as("__id"))
      .groupBy(col("window"), col("__key"))
      .agg(agg.as("__top"))
      .select(col("window.start").as("window_start"), col("__key").as("key"),
        posexplode(col("__top")))
      .select(col("window_start"), col("key"),
        (col("pos") + 1L).as("rank"),
        col("col.ord").as("ord"), col("col.id").as("id"))
  }

  /** Streaming data-quality expectations — the online face of
    * [[graft.stats.Expectations.check]]: the SCAN-RULE families
    * (notNull / between / acceptedValues / rowCountAtLeast) evaluated
    * per event-time window as the same exact integer aggregates,
    * emitted as one verdict row per (window, rule) when the watermark
    * closes the window. An ingest pipeline alarms on `passed = false`
    * windows ("this hour's crawl has an exploded null rate") without
    * a batch pass.
    *
    * [[graft.stats.Expectations.Unique]] rules are REJECTED here:
    * exact distinct counting over an unbounded stream needs unbounded
    * state (run the batch gate, or monitor approximately with
    * [[streamingKmvSketch]]/[[streamingHllRegisters]]).
    *
    * @return append-mode rows (window_start, rule, measured,
    *         violations, passed)
    */
  def streamingExpectations(
      events: DataFrame,
      rules: Seq[graft.stats.Expectations.Rule],
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    require(!rules.exists(_.isInstanceOf[graft.stats.Expectations.Unique]),
      "unique rules need the batch gate (unbounded streaming state)")
    graft.stats.Expectations.checkGrouped(
        events.withWatermark("ts", watermark)
          .withColumn("__w", window(col("ts"), windowLength)),
        Seq("__w"), rules)
      .select(col("__w.start").as("window_start"), col("rule"),
        col("measured"), col("violations"), col("passed"))
  }
}
