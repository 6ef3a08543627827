package graft.pipeline

import graft.kernels.ExtractKernel
import graft.model.{ExtractedDoc, PageRow, Span}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq

/** Spark wiring of the extraction kernel (SURVEY.md §7.1 `pipeline`).
  *
  * Plan shape (EP1 restated, SURVEY §3). Two placements of the explicit
  * url-hash exchange:
  * {{{
  *   pre-shuffle (postShuffle=false):     post-shuffle (postShuffle=true):
  *     scan(pages)                          scan(pages)
  *       └─ repartition(P, xxhash64(url))     └─ mapPartitions(kernel)  -- narrow
  *       └─ mapPartitions(kernel)             └─ repartition(P, xxhash64(url))
  * }}}
  * Both satisfy the north rule's explicit url-hash repartitioning (the
  * output lands co-partitioned by url either way); they differ in WHAT
  * crosses the wire. Pre-shuffle moves the raw `html` bytes — at crawl
  * scale that is the whole 100 TB through the exchange — and buys
  * row-level CPU balance into the kernel. Post-shuffle keeps the kernel
  * narrow on scan splits and exchanges only the extracted text
  * (typically 5-10x smaller); kernel-time imbalance between splits is
  * absorbed by task-per-core oversubscription, not by pre-balancing
  * rows. Measured at local[8]/300k docs, interleaved min-of-5: 142k
  * docs/s pre vs 149k post (178k with no exchange at all —
  * `repartition = 0`, the right call when the source is already
  * bucketed by url). The local gap is small because a single-JVM
  * shuffle is tmpfs-speed; on a real cluster the exchange is
  * network-bound and scales with bytes moved, which is where shipping
  * text instead of html pays. Post-shuffle is the default production
  * shape; pre-shuffle remains for sources with pathological per-split
  * skew (one parquet file of giant PDFs).
  *
  * The reference processed pages serially per request (api.py:217-228);
  * here every executor core runs the kernel on its partition's rows with
  * a single exchange end-to-end.
  */
object ExtractPipeline {

  /** Job configuration.
    * @param repartition  target partitions for the url-hash exchange;
    *                     0 = keep scan partitioning (narrow, no shuffle) —
    *                     right when the source is already well-bucketed.
    * @param maxBytes     poison-pill cap: larger blobs become error rows
    *                     (bounds kernel memory; SURVEY §4.3 spill row).
    * @param hostSalt     0/1 = partition by url hash (uniform — the
    *                     default; unique urls carry no skew). >1 =
    *                     partition by (host, salt) instead: rows stay
    *                     host-grouped (per-host downstream state /
    *                     politeness) but a giant host spreads over
    *                     `hostSalt` buckets instead of hot-spotting one
    *                     reducer (SURVEY §4.3 skew salting).
    */
  /** @param postShuffle  place the url-hash exchange AFTER the kernel
    *                      (shuffles extracted text instead of raw html —
    *                      see the plan-shape comparison above). Only
    *                      meaningful with repartition > 0.
    */
  final case class Conf(repartition: Int = 0, maxBytes: Int = 64 << 20,
      hostSalt: Int = 0, postShuffle: Boolean = true)

  /** Extract one document with the size cap applied; rows without html
    * bytes carry the crawl-provided text through (kind passthrough, or
    * empty when there is none).
    */
  def extractDoc(row: PageRow, maxBytes: Int): ExtractedDoc = {
    val size = if (row.html == null) 0 else row.html.length
    if (size > maxBytes)
      return ExtractedDoc(row.url, row.warc_ts, ExtractKernel.sniff(row.html), 0, "",
        Seq.empty, 0, row.lang, s"too_large:$size")
    val d = ExtractKernel.extract(row.html)
    if (d.kind == ExtractKernel.KindPassthrough) {
      val t = if (row.text == null) "" else row.text
      if (t.isEmpty)
        ExtractedDoc(row.url, row.warc_ts, ExtractKernel.KindEmpty, 1, t, Seq.empty, 0,
          row.lang, null)
      else
        ExtractedDoc(row.url, row.warc_ts, ExtractKernel.KindPassthrough, 1, t,
          Seq(Span(0, t.length, "text")), t.length, row.lang, null)
    } else {
      val t = if (d.text == null) "" else d.text
      ExtractedDoc(row.url, row.warc_ts, d.kind, d.pageCount, t,
        ArraySeq.unsafeWrapArray(d.spans), t.length, row.lang, d.error)
    }
  }

  /** The explicit url-hash exchange, applicable to any plan with a `url`
    * column (raw pages pre-kernel or extracted docs post-kernel).
    */
  private def keyedBy[T](ds: Dataset[T], conf: Conf): Dataset[T] =
    if (conf.repartition > 0 && conf.hostSalt > 1)
      // host-grouped with skew salt: tuple-hash of (host, salt bucket)
      ds.repartition(conf.repartition,
        regexp_extract(col("url"), "^https?://([^/]+)", 1),
        pmod(xxhash64(col("url")), lit(conf.hostSalt)))
    else if (conf.repartition > 0)
      // explicit url-hash exchange (north rule): aligns output
      // partitioning with the natural key and spreads host runs
      ds.repartition(conf.repartition, xxhash64(col("url")))
    else ds

  /** pages(url, warc_ts, html, text, lang) → Dataset[ExtractedDoc]. */
  def extract(spark: SparkSession, pages: DataFrame, conf: Conf = Conf()): Dataset[ExtractedDoc] = {
    import spark.implicits._
    val maxBytes = conf.maxBytes
    val input = if (conf.postShuffle) pages else keyedBy(pages.toDF(), conf)
    val docs = input
      .select("url", "warc_ts", "html", "text", "lang")
      .as[PageRow]
      .mapPartitions { it => it.map(r => extractDoc(r, maxBytes)) }
    if (conf.postShuffle) keyedBy(docs, conf) else docs
  }

  /** Expression-only fast path: text extraction as a codegen'd projection
    * (`extract_main_text`), no Dataset encoder round-trip. Which path is
    * faster depends on the host: expression vs typed read 496k vs 397k
    * docs/s at local[32] on a 32-core host (`BENCH_r05.json`) and 67.3k
    * vs 66.5k at local[4] on a 4-core host, where jobbench's
    * `pipeline.encoder_cpu_ns_per_doc` reads about -530 ns/doc (the typed
    * path costs less CPU). Emits (url, warc_ts, lang, text, n_chars)
    * only, n_chars in code points: consumers needing spans, page counts,
    * or the error string use [[extract]]. text=null is the single failure
    * shape here — oversized blobs, failed PDFs, corrupt transports and
    * kernel faults (the same `ExtractKernel.extract` per-row catch as the
    * typed path) all map to null. Crawl-provided `text` surfaces ONLY for
    * rows with no html bytes (the passthrough branch), never as a
    * fallback for failed extraction — same branch the typed path takes.
    * A transport-wrapped empty body (gzip of nothing) has no payload
    * either, so it takes that branch too; the kernel's `passthrough` kind
    * tells it apart from a failure, asked only on rows whose text came
    * back null while crawl text is present.
    */
  def extractText(spark: SparkSession, pages: DataFrame, conf: Conf = Conf()): DataFrame = {
    graft.functions.ExtractMainText.register(spark) // idempotent
    graft.functions.ExtractDoc.register(spark)
    val htmlLen = coalesce(length(col("html")), lit(0))
    val crawl = when(col("text") =!= "", col("text"))
    val noPayload = call_function("extract_doc", col("html")).getField("kind") ===
      ExtractKernel.KindPassthrough
    val input = if (conf.postShuffle) pages else keyedBy(pages, conf)
    val out = input
      .select(
        col("url"), col("warc_ts"), col("lang"),
        when(htmlLen === 0, crawl)
          .otherwise(when(htmlLen <= conf.maxBytes,
            coalesce(call_function("extract_main_text", col("html")),
              when(crawl.isNotNull && noPayload, crawl))))
          .as("text"))
      .withColumn("n_chars", coalesce(length(col("text")), lit(0)))
    if (conf.postShuffle) keyedBy(out, conf) else out
  }
}
