package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{Hash56, HtmlText, ShingleSeq, TextNorm, Tokens, UrlCanon}

/** Shared column-level text primitives for the document pipeline.
  *
  * Every helper is a codegen'd Catalyst expression (no UDFs) —
  * graft's native kernels are built directly as expressions, so they
  * need no function registration on the session — and is
  * deliberately expressible 1:1 in ANSI-ish SQL so the DuckDB oracle
  * can replicate each operator bit-for-bit:
  *
  *  - tokens: single-space split (the corpus is pre-normalized); empty
  *    tokens dropped on both sides.
  *  - hash56: the first 56 bits of md5 as a non-negative BIGINT — the
  *    one 64-bit-safe integer hash both engines can compute identically
  *    (Spark `conv(substring(md5, 1, 14), 16, 10)`, DuckDB
  *    `CAST('0x' || substr(md5, 1, 14) AS BIGINT)`).
  */
object TextOps {

  /** A native kernel over one column, built as the expression itself. */
  private def native(kernel: Expression => Expression)(c: Column): Column =
    ColumnBridge.column(kernel(ColumnBridge.expression(c)))

  /** Non-empty tokens of a single-space-separated text column — the
    * native one-pass [[graft.functions.Tokens]] kernel (no regex, no
    * intermediate empty tokens; identical to [[hofTokens]]). */
  def tokens(text: Column): Column = native(Tokens(_))(text)

  /** Builtin-only tokenizer — regex split + non-empty filter; the
    * reference [[tokens]] is checked against. */
  def hofTokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Visible text of an HTML column — the WET extraction step
    * ([[graft.functions.HtmlText]]: tag strip, script/style/head
    * content drop, comment drop, entity decode, block-break + collapse
    * normal form); no builtin composition can express the state
    * machine. */
  def htmlToText(html: Column): Column = native(HtmlText(_))(html)

  /** RFC 3986-normalized URL ([[graft.functions.UrlCanon]]: scheme/
    * host lowercase, fragment drop, default-port strip, dot-segment
    * resolution, percent-encoding normalization) — the key-normal form
    * URL-level crawl dedup and frontier joins key on; dot-segment
    * resolution has no builtin composition. */
  def canonicalizeUrl(url: Column): Column = native(UrlCanon(_))(url)

  /** Unicode normal form for cross-document comparison: NFC canonical
    * composition + root-locale lowercase ([[graft.functions.TextNorm]]
    * — no builtin can express NFC). Normalize BEFORE hashing/
    * shingling: precomposed vs combining-mark spellings of the same
    * word otherwise fragment every dedup/count key. */
  def normalizeText(text: Column): Column = native(TextNorm(_))(text)

  /** All n-token shingles (with duplicates, in positional order);
    * empty array when the document has fewer than n tokens — the
    * native codegen'd [[graft.functions.ShingleSeq]] kernel, identical
    * to [[hofShingleSeq]] (same join, same ordering, same
    * empty-on-short semantics). */
  def shingleSeq(toks: Column, n: Int): Column =
    ColumnBridge.column(ShingleSeq(ColumnBridge.expression(toks),
      ColumnBridge.expression(lit(n))))

  /** `transform`/`slice`/`concat_ws` shingles — the builtin-only
    * reference [[shingleSeq]] is checked against. */
  def hofShingleSeq(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle set of a document. */
  def shingles(toks: Column, n: Int): Column = array_distinct(shingleSeq(toks, n))

  /** First 56 bits of md5(s) as a non-negative long. Stable across
    * engines and platforms (md5 is byte-defined), cheap enough for the
    * hot path (one md5 per shingle), and 56 bits keeps every derived
    * product `a * (h % p) + b` inside 63 bits. The native
    * [[graft.functions.Hash56]] kernel (digest bytes -> long, no hex
    * round-trip), identical to [[hofHash56]]. */
  def hash56(s: Column): Column = native(Hash56(_))(s)

  /** Builtin-only hash56 — md5 hex, slice, radix-16 parse; the
    * reference [[hash56]] is checked against. */
  def hofHash56(s: Column): Column =
    conv(substring(md5(s), 1, 14), 16, 10).cast("long")

  /** Modulus for the MinHash permutation family. */
  val HashP: Long = 1000000007L

  /** Banded LSH bucket keys over per-hash min columns: band b's key is
    * `"b:m_(b*r):...:m_(b*r+r-1)"` with r = mins.length / bands. Shared
    * by the batch ([[Dedup.minHashNearDupsFromSets]]) and streaming
    * ([[graft.streaming.Streaming.streamingNearDups]]) near-dup
    * operators so the bucket format cannot drift between them. */
  def bandKeyCols(mins: Seq[Column], bands: Int): Seq[Column] = {
    require(bands > 0 && mins.length % bands == 0,
      s"bands ($bands) must divide the signature width (${mins.length})")
    val rows = mins.length / bands
    (0 until bands).map { b =>
      val parts = lit(b.toString) +:
        (0 until rows).map(r => mins(b * rows + r).cast("string"))
      concat_ws(":", parts: _*)
    }
  }

  /** j-th universal-hash parameters (aj, bj), 1 <= aj < P and
    * 0 <= bj < P, so aj * (h mod P) + bj stays < 2^63. Each pair comes
    * from a fixed 64-bit mixer (SplitMix64's finalizer over j's own
    * seeds) reduced mod P, so the hash functions are independent
    * draws from the universal family. Parameters that are multiples
    * of one pair — aj = (j+1)·a0, bj = (j+1)·b0 — would make every
    * hash (j+1)·h0 mod P, and banded LSH then misses near-duplicates
    * independent hashes find. */
  def hashParams(j: Int): (Long, Long) = {
    def mix(x: Long): Long = {
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def modP(x: Long): Long = java.lang.Long.remainderUnsigned(x, HashP)
    (1L + modP(mix(2L * j)) % (HashP - 1L), modP(mix(2L * j + 1L)))
  }
}
