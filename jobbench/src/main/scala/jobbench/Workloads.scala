package jobbench

import graft.gen.PagesGen
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One generated input row together with its golden output. */
final case class GenRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String,
    expected: String,
    page_count: Int)

/** A workload's input table and golden, as cached on disk. */
final case class Input(
    pagesDir: String,
    goldenDir: String,
    rows: Long,
    bytes: Long,
    files: Int,
    /** per day (yyyy-MM-dd): golden rows and golden text chars */
    days: Map[String, (Long, Long)],
    genSeconds: Double)

/** Workload inputs, generated from a seed by `PagesGen.genPage` (200 Zipf
  * hosts, 30 days) and cached under `work/inputs/` keyed by generator
  * version, rows and seed, so a changed generator regenerates. Both
  * workloads read one table, written in `warc_ts` order as crawl segments
  * land: the generator's mix (~90% HTML, 8% PDF, 2% passthrough or empty),
  * with 10% of HTML bodies stored gzip- and 10% zstd-compressed. The 20% is
  * an arbitrary share, not a measured property of crawl data: it is there
  * only so that every pass runs the transport layer.
  */
object Workloads {

  val Names: Seq[String] = Seq("crawl_mix", "resume_tail")
  val Hosts = 200
  val Days = 30
  val InputFiles = 16
  /** Bump when this file changes what it writes. */
  val GenVersion = "b1"
  private val GzipShare = 0.10
  private val ZstdShare = 0.10

  private def u01(x: Long): Double = (PagesGen.mix(x) >>> 11).toDouble / (1L << 53).toDouble

  private val PdfCount = "/Type /Pages /Kids \\[[^\\]]*\\] /Count (\\d+)".r

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(buf)
    gz.write(b); gz.close()
    buf.toByteArray
  }

  def row(i: Long, seed: Long): GenRow = {
    val g = PagesGen.genPage(i, seed, Hosts)
    val r = g.row
    val pages =
      if (g.kind == "pdf")
        PdfCount.findFirstMatchIn(new String(r.html, UTF_8)).map(_.group(1).toInt).getOrElse(-1)
      else 1
    val html =
      if (g.kind != "html") r.html
      else {
        val u = u01(seed ^ 0x74726e73L ^ (i * 0x9E3779B97F4A7C15L))
        if (u < GzipShare) gzip(r.html)
        else if (u < GzipShare + ZstdShare) com.github.luben.zstd.Zstd.compress(r.html)
        else r.html
      }
    GenRow(r.url, r.warc_ts, html, r.text, r.lang, g.expected, pages)
  }

  /** Cached inputs kept; the least recently used beyond this are deleted. */
  val CacheKeep = 24

  private def evict(inputs: File): Unit =
    Option(inputs.listFiles()).getOrElse(Array.empty[File])
      .sortBy(d => -new File(d, "_READY").lastModified())
      .drop(CacheKeep).foreach(Fs.delete)

  def prepare(spark: SparkSession, work: String, seed: Long, rows: Int): Input = {
    val dir = new File(s"$work/inputs/pages-${PagesGen.CorpusVersion}-$GenVersion-r$rows-s$seed")
    val ready = new File(dir, "_READY")
    val t0 = System.nanoTime()
    if (!ready.exists()) {
      Fs.delete(dir)
      import spark.implicits._
      val gen = spark.range(0L, rows.toLong, 1L, 8)
        .mapPartitions(_.map(i => row(i, seed)))
        .persist()
      gen.select("url", "warc_ts", "html", "text", "lang")
        .repartitionByRange(InputFiles, col("warc_ts"))
        .sortWithinPartitions("warc_ts")
        .write.parquet(s"$dir/pages")
      gen.select(col("url"), col("expected"), col("page_count"),
          date_format(col("warc_ts"), "yyyy-MM-dd").as("day"))
        .write.parquet(s"$dir/golden")
      gen.unpersist()
      java.nio.file.Files.createFile(ready.toPath)
    }
    val genSeconds = (System.nanoTime() - t0) / 1e9
    ready.setLastModified(System.currentTimeMillis())
    evict(dir.getParentFile)
    val days = spark.read.parquet(s"$dir/golden")
      .groupBy("day").agg(count(lit(1)), sum(length(col("expected"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val files = Fs.dataFiles(new File(s"$dir/pages"))
    Input(s"$dir/pages", s"$dir/golden", days.values.map(_._1).sum,
      files.map(_.length()).sum, files.length, days, genSeconds)
  }
}

/** Small local-filesystem helpers. */
object Fs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }

  def dataFiles(dir: File): Seq[File] = {
    val all = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
    all.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
      all.filter(_.isDirectory).flatMap(dataFiles)
  }

  /** relative path -> (size, mtime) of every data file under `dir`. */
  def listing(dir: File): Map[String, (Long, Long)] =
    dataFiles(dir).map(f =>
      dir.toPath.relativize(f.toPath).toString -> (f.length(), f.lastModified())).toMap
}
