package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import TextOps._

/** Content-defined chunking (CDC) — the storage-dedup family's answer
  * to the fixed-grid alignment problem (LBFS, Muthitacharoen et al.
  * SOSP '01 §3.1): chunk boundaries are cut where a rolling
  * window-hash of the CONTENT satisfies a divisor condition, so an
  * edit moves only the boundaries within one window of the edit and
  * every chunk outside that neighbourhood keeps its identity — a
  * fixed k-token grid ([[Rewrite.chunkDedup]]) instead shifts every
  * chunk after the edit. The classic use is chunk-store dedup of
  * re-crawled/near-duplicate documents: shared spans land in shared
  * chunks regardless of offset.
  *
  * This is the ORIGINAL Karp-Rabin-windowed scheme (no min/max chunk
  * clamps): with a fixed window the boundary test at position i
  * depends only on the w tokens ending at i, so every position is
  * decided independently — embarrassingly parallel, one shuffle
  * (the per-document window), and exactly replayable by the oracle.
  * FastCDC-style min/max clamps reintroduce a sequential scan (each
  * cut depends on the previous cut) and buy nothing for dedup on
  * token streams; they stay out of scope by design.
  *
  * Scale design: everything is per-document until the final
  * chunk-store aggregate — the window functions partition by doc_id
  * (state bounded by document length, independent of corpus size),
  * and the chunk store is a plain hash groupBy on chunk_hash (the
  * exact-dedup shape). Expected chunk length is `divisor` tokens, so
  * the chunk table is ~1/divisor of the token table.
  */
object Cdc {

  /** Content-defined chunks of every document.
    *
    * A boundary is cut AFTER token position i (0-based) when the
    * 56-bit hash of the w-token window ending at i is ≡ 0 mod
    * `divisor`; the last token is always an implicit boundary.
    * Documents shorter than `w` tokens form a single chunk; token-less
    * documents emit nothing.
    *
    * Output: (doc_id, chunk_idx, start_pos, n_tokens, chunk_hash,
    * chunk) — chunk_idx 0-based in document order, chunk_hash the
    * 56-bit hash of the space-joined chunk text.
    */
  def cdcChunks(
      docs: DataFrame,
      w: Int = 8,
      divisor: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    require(divisor > 0, s"divisor must be positive, got $divisor")
    val base = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    // one row per token
    val toks = base.select(col("doc_id"),
      posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    // boundary flags: shingle starting at s covers [s, s+w-1]; the cut
    // lands after its LAST token (content to the left decides the cut)
    val cuts = base
      .select(col("doc_id"),
        posexplode(shingleSeq(col("__toks"), w)).as(Seq("__s", "__sh")))
      .filter(hash56(concat(lit("cdcw:"), col("__sh"))) % divisor === 0)
      .select(col("doc_id"), (col("__s") + lit(w - 1)).as("__pos"),
        lit(1L).as("__cut"))
    // chunk index of a token = number of cuts strictly before it
    val win = Window.partitionBy("doc_id").orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val indexed = toks.join(cuts, Seq("doc_id", "__pos"), "left")
      .withColumn("chunk_idx",
        coalesce(sum(col("__cut")).over(win), lit(0L)))
    indexed.groupBy("doc_id", "chunk_idx")
      .agg(
        min(col("__pos")).as("start_pos"),
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok")),
          " ").as("chunk"))
      .withColumn("chunk_hash", hash56(concat(lit("cdc:"), col("chunk"))))
      .select("doc_id", "chunk_idx", "start_pos", "n_tokens",
        "chunk_hash", "chunk")
  }

  /** Per-document chunk-store dedup rollup: how much of each document
    * is already present elsewhere in the corpus' content-defined chunk
    * store. A chunk occurrence is a DUPLICATE unless it is the
    * keeper — the corpus-first (min doc_id, then min chunk_idx)
    * occurrence of its hash — the [[Rewrite.chunkDedup]] keeper rule
    * on CDC boundaries.
    *
    * Output: (doc_id, n_chunks, n_tokens, dup_chunks, dup_tokens,
    * dup_token_pct) per document with at least one token. */
  /** Incremental corpus sync keyed on CDC chunks — rsync's batch
    * algorithm applied to documents: chunk the incoming batch, probe
    * each chunk hash against the HELD corpus' chunk store, and ship
    * only the chunks the store does not already hold. Because the
    * boundaries are content-defined, an edited re-fetch re-ships only
    * the chunks in the edit's window neighbourhood; a fixed grid would
    * re-ship the whole document tail.
    *
    * One distinct-project of the held chunk hashes + one equi-join —
    * the Bloom semi-join prefilter composes in front of the store
    * probe at scale; exactness here comes from the store join itself.
    *
    * Output, one row per incoming document with tokens: (doc_id,
    * n_chunks, n_tokens, ship_chunks, ship_tokens, reuse_pct) where
    * reuse_pct is the token share already present in the store. */
  def cdcSyncPlan(
      incoming: DataFrame,
      held: DataFrame,
      w: Int = 8,
      divisor: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val inc = cdcChunks(incoming, w, divisor, textCol, idCol)
    val store = cdcChunks(held, w, divisor, textCol, idCol)
      .select("chunk_hash").distinct().withColumn("__held", lit(true))
    inc.join(store, Seq("chunk_hash"), "left")
      .withColumn("__ship", coalesce(col("__held"), lit(false)) === false)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("__ship").cast("long")).as("ship_chunks"),
        sum(when(col("__ship"), col("n_tokens")).otherwise(lit(0L)))
          .as("ship_tokens"))
      .withColumn("reuse_pct",
        round((col("n_tokens") - col("ship_tokens")) * lit(100.0) /
          col("n_tokens"), 9))
      .orderBy("doc_id")
  }

  /** Byte-level content-defined chunks of a BINARY column — the
    * [[graft.functions.GearChunks]] Gear-hash kernel exploded into one
    * row per chunk. This is the multimodal face of CDC: it chunks any
    * payload (WAV/PPM/WARC bytes, UTF-8 text alike) with expected
    * chunk length 2^maskBits bytes, so the chunk-store dedup and
    * incremental-sync rollups above compose over media columns exactly
    * as they do over token streams.
    *
    * Output: (id, chunk_idx, start, len, chunk_hash) per chunk,
    * chunk_idx 0-based in payload order; empty/NULL payloads emit
    * nothing. One narrow codegen'd pass per row, no shuffle. */
  def byteChunks(
      df: DataFrame,
      binCol: String,
      maskBits: Int = 6,
      idCol: String = "doc_id"): DataFrame = {
    require(maskBits >= 1 && maskBits <= 30,
      s"maskBits must be in 1..30, got $maskBits")
    df.select(col(idCol), posexplode(ColumnBridge.column(
        graft.functions.GearChunks(
          ColumnBridge.expression(col(binCol).cast("binary")),
          ColumnBridge.expression(lit(maskBits)))))
        .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx"),
        col("__c.start").as("start"), col("__c.len").as("len"),
        col("__c.chunk_hash").as("chunk_hash"))
  }

  /** [[cdcSyncPlan]] over BINARY payloads: chunk the incoming batch
    * with the byte-level Gear kernel, probe each chunk hash against
    * the held corpus' byte-chunk store, ship only what the store lacks.
    * Same plan shape as the token-level sync (one distinct-project +
    * one equi-join); reuse is reported in BYTES.
    *
    * Output per incoming payload: (id, n_chunks, n_bytes, ship_chunks,
    * ship_bytes, reuse_pct). */
  def byteSyncPlan(
      incoming: DataFrame,
      held: DataFrame,
      binCol: String,
      maskBits: Int = 6,
      idCol: String = "doc_id"): DataFrame = {
    val inc = byteChunks(incoming, binCol, maskBits, idCol)
    val store = byteChunks(held, binCol, maskBits, idCol)
      .select("chunk_hash").distinct().withColumn("__held", lit(true))
    inc.join(store, Seq("chunk_hash"), "left")
      .withColumn("__ship", coalesce(col("__held"), lit(false)) === false)
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("len").cast("long")).as("n_bytes"),
        sum(col("__ship").cast("long")).as("ship_chunks"),
        sum(when(col("__ship"), col("len").cast("long")).otherwise(lit(0L)))
          .as("ship_bytes"))
      .withColumn("reuse_pct",
        round((col("n_bytes") - col("ship_bytes")) * lit(100.0) /
          col("n_bytes"), 9))
      .orderBy(idCol)
  }

  def cdcDedupStats(
      docs: DataFrame,
      w: Int = 8,
      divisor: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val chunks = cdcChunks(docs, w, divisor, textCol, idCol)
    // skew-safe keeper: min (doc_id, chunk_idx) per hash via one
    // map-side-combinable struct-min aggregate, then an equi-join back
    val keeper = chunks.groupBy("chunk_hash")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("__k"))
      .select(col("chunk_hash"), col("__k.doc_id").as("__kd"),
        col("__k.chunk_idx").as("__ki"))
    chunks.join(keeper, Seq("chunk_hash"))
      .withColumn("__dup",
        !(col("doc_id") === col("__kd") && col("chunk_idx") === col("__ki")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("__dup").cast("long")).as("dup_chunks"),
        sum(when(col("__dup"), col("n_tokens")).otherwise(lit(0L)))
          .as("dup_tokens"))
      .withColumn("dup_token_pct",
        round(col("dup_tokens") * lit(100.0) / col("n_tokens"), 9))
      .orderBy("doc_id")
  }
}
