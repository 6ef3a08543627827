package jobbench

import graft.pipeline.{ExtractJob, Ledger}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** The correctness gate: the job's output against the generator's golden. */
object Gate {

  /** Rows checked and rows found wrong, by first reason. */
  final case class Result(rows: Long, outRows: Long, wrong: Long, reasons: Map[String, Long])

  /** Checks every output row against the golden of its url: text bytes,
    * null error, span bounds and order, page_count; and missing, duplicated
    * and extra urls. Both tables are small enough to compare on the driver.
    * `injectWrong` alters one output row first (a check of the gate itself).
    */
  def output(spark: SparkSession, in: Input, outDir: String, injectWrong: Boolean): Result = {
    val golden = spark.read.parquet(in.goldenDir).select("url", "expected", "page_count")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    val out = spark.read.parquet(outDir)
      .select(col("url"), col("text"), col("error"), col("page_count"),
        spansOk(col("spans"), col("text")))
      .collect()
    val victim = if (injectWrong) golden.keys.min else null
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    out.foreach(r => seen(r.getString(0)) = seen.getOrElse(r.getString(0), 0) + 1)
    val reasons = out.iterator.map { r =>
      val url = r.getString(0)
      val text = if (url == victim) r.getString(1) + "x" else r.getString(1)
      golden.get(url) match {
        case None => "extra"
        case Some(_) if seen(url) > 1 => "duplicated"
        case Some(_) if !r.isNullAt(2) => "error"
        case Some((expected, _)) if text != expected => "text"
        case Some((_, pages)) if r.isNullAt(3) || r.getInt(3) != pages => "page_count"
        case Some(_) if r.isNullAt(4) || !r.getBoolean(4) => "spans"
        case _ => "ok"
      }
    }.toSeq ++ golden.keysIterator.filterNot(seen.contains).map(_ => "missing")
    val wrong = reasons.filter(_ != "ok").groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    Result(in.rows, out.length.toLong, wrong.values.sum, wrong)
  }

  /** Spans sorted by begin, non-overlapping, within `0..length(text)`. */
  private def spansOk(spans: Column, text: Column): Column =
    aggregate(spans, struct(lit(true).as("ok"), lit(0).as("end")),
      (acc, s) => struct(
        (acc.getField("ok") && s.getField("begin") >= acc.getField("end") &&
          s.getField("begin") <= s.getField("end") &&
          s.getField("end") <= length(text)).as("ok"),
        s.getField("end").as("end")),
      acc => acc.getField("ok"))

  /** Per-pass reconcile of the job's own per-day stats (read back from the
    * written table) with the golden: rows, text chars and zero errors for
    * every day the pass wrote. Returns the golden rows of the days that
    * disagree.
    */
  def pass(in: Input, res: ExtractJob.Result, expectedDays: Set[String]): Long = {
    val got = res.daysProcessed.map(d => d.day -> d).toMap
    expectedDays.toSeq.map { day =>
      val (rows, chars) = in.days(day)
      got.get(day) match {
        case Some(d) if d.rows == rows && d.chars == chars && d.errors == 0 => 0L
        case _ => rows
      }
    }.sum + got.keySet.diff(expectedDays).size.toLong
  }

  /** The ledger reconciles: one entry per day, rows summing to the table. */
  def ledger(in: Input, ledgerDir: String): Option[String] = {
    val entries = Ledger.committed(ledgerDir)
    val sum = entries.values.map(_.rows).sum
    if (entries.size != Workloads.Days) Some(s"ledger holds ${entries.size} entries, not ${Workloads.Days}")
    else if (sum != in.rows) Some(s"ledger rows sum to $sum, input has ${in.rows}")
    else None
  }
}
