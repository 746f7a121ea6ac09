package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** WARC sink + convenience readers over the `warc` DataSource V2.
  *
  * The writer emits one `part-NNNNN.warc[.gz]` per partition via the
  * Hadoop FileSystem API (so any FS Spark can reach works), executors
  * writing their own partitions — no driver funnel. Per the WARC spec's
  * `.gz` convention each record is its own gzip member, which is what
  * keeps a 1 GiB segment streamable record-by-record without inflating
  * the whole file.
  */
object Warc {

  /** Read WARC files as a DataFrame (schema: [[WarcDataSource.schema]]). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("warc").load(path)

  /** Write `df` as WARC part files under `dir`.
    *
    * Expected columns (missing optional ones default):
    * `warc_type` (default "response"), `record_id` (required),
    * `target_uri` (nullable), `warc_date` timestamp (required),
    * `content_type` (default "text/plain"), `payload` binary (required).
    */
  def write(df: DataFrame, dir: String, gzip: Boolean = false): Unit = {
    val spark = df.sparkSession
    val cols = df.columns.toSet
    def opt(name: String, default: org.apache.spark.sql.Column) =
      if (cols(name)) col(name) else default
    val canon = df.select(
      opt("warc_type", lit("response")).as("warc_type"),
      col("record_id"),
      opt("target_uri", lit(null).cast("string")).as("target_uri"),
      col("warc_date").cast("timestamp").as("warc_date"),
      opt("content_type", lit("text/plain")).as("content_type"),
      col("payload"))

    val conf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val out = new Path(dir)
    out.getFileSystem(conf.value).mkdirs(out)
    val suffix = if (gzip) ".warc.gz" else ".warc"

    canon.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      // toRdd keeps this a narrow job over InternalRows (no collect);
      // each task streams its records straight to its own part file
      val file = new Path(dir, f"part-$pid%05d$suffix")
      val fs = file.getFileSystem(conf.value)
      val raw = fs.create(file, true)
      val stream: java.io.OutputStream = raw
      var n = 0L
      rows.foreach { r =>
        val payload = r.getBinary(5)
        val bytes = WarcFormat.encode(
          warcType = r.getUTF8String(0).toString,
          recordId = r.getUTF8String(1).toString,
          targetUri = if (r.isNullAt(2)) None else Some(r.getUTF8String(2).toString),
          dateMicros = r.getLong(3),
          contentType = r.getUTF8String(4).toString,
          payload = payload)
        if (gzip) {
          // one gzip member per record (WARC .gz convention); the
          // shield keeps gz.close() (which releases the Deflater's
          // native buffer) from closing the shared part-file stream
          val shield = new java.io.FilterOutputStream(stream) {
            override def close(): Unit = flush()
          }
          val gz = new java.util.zip.GZIPOutputStream(shield, 1 << 16)
          gz.write(bytes); gz.close()
        } else stream.write(bytes)
        n += 1
      }
      stream.close()
      Iterator.single(n)
    }.count(): Unit
  }
}
