package jobbench

import graft.kernels.{Dom, ExtractKernel, HtmlCharset, HtmlTokenizer, MainTextExtractor, PdfTextExtractor}

/** Single-threaded timing of the public kernel functions on a fixed sample
  * of rows. Each round calls every function once per sampled row; a
  * function's figure is the median of its round totals, per row it was
  * called on. Self times are differences of medians, so
  * tokenize + dom.self + score.self == extract by construction.
  */
object KernelTimer {

  private object NoTokens extends HtmlTokenizer.Sink {
    def open(name: String, classId: String, selfClosing: Boolean): Unit = ()
    def close(name: String): Unit = ()
    def text(s: CharSequence): Unit = ()
  }

  private object NoNodes extends Dom.NodeSink {
    def enter(name: String, hint: Byte): Unit = ()
    def exit(name: String, hint: Byte): Unit = ()
    def text(s: CharSequence): Unit = ()
  }

  @volatile private var sink = 0L

  final case class Sample(transport: Seq[Array[Byte]], htmlBytes: Seq[Array[Byte]],
      pdfs: Seq[Array[Byte]]) {
    lazy val html: Seq[String] = htmlBytes.map(HtmlCharset.decode)
  }

  /** Splits raw `html` column values the way `ExtractKernel` dispatches them. */
  def sample(raw: Seq[Array[Byte]]): Sample = {
    val transport = raw.filter(b => ExtractKernel.transportOf(b) != null)
    val payload = raw.map(b =>
      if (ExtractKernel.transportOf(b) == null) b
      else ExtractKernel.decompressTransport(b).getOrElse(Array.emptyByteArray))
    Sample(transport,
      payload.filter(ExtractKernel.sniff(_) == ExtractKernel.KindHtml),
      payload.filter(ExtractKernel.sniff(_) == ExtractKernel.KindPdf))
  }

  private def time[A](xs: Seq[A])(f: A => Int): Long = {
    var acc = 0L
    val t0 = System.nanoTime()
    xs.foreach(x => acc += f(x))
    val t = System.nanoTime() - t0
    sink += acc
    t
  }

  private val Funcs = Seq("transport", "charset", "tokenize", "dom", "extract", "pdf")

  /** Runs `warmRounds` untimed then `rounds` timed rounds; `span` records each
    * timed call batch (name, startNs, endNs). Returns metric name -> µs/row.
    */
  def run(s: Sample, warmRounds: Int, rounds: Int,
      span: (String, Long, Long) => Unit): Map[String, Double] = {
    def round(): Map[String, Long] = Funcs.map { f =>
      val t0 = System.nanoTime()
      val ns = f match {
        case "transport" => time(s.transport)(b => ExtractKernel.decompressTransport(b).fold(0)(_.length))
        case "charset" => time(s.htmlBytes)(b => HtmlCharset.decode(b).length)
        case "tokenize" => time(s.html) { h => HtmlTokenizer.tokenize(h, NoTokens); h.length }
        case "dom" => time(s.html) { h =>
          val p = new Dom.StreamParser(NoNodes)
          HtmlTokenizer.tokenize(h, p); p.finish(); h.length
        }
        case "extract" => time(s.html)(h => MainTextExtractor.extract(h).text.length)
        case "pdf" => time(s.pdfs)(b => PdfTextExtractor.extract(b).pages.length)
      }
      span(s"kernel.$f", t0, System.nanoTime())
      f -> ns
    }.toMap
    (1 to warmRounds).foreach(_ => round())
    val rs = (1 to rounds).map(_ => round())
    def med(f: String): Double = Stats.median(rs.map(_(f).toDouble))
    def perRow(ns: Double, n: Int): Double = if (n == 0) 0.0 else ns / n / 1000.0
    val nh = s.html.length
    Map(
      "transport.us_per_doc" -> perRow(med("transport"), s.transport.length),
      "charset.us_per_doc" -> perRow(med("charset"), s.htmlBytes.length),
      "tokenize.us_per_doc" -> perRow(med("tokenize"), nh),
      "dom.self_us_per_doc" -> perRow(med("dom") - med("tokenize"), nh),
      "score.self_us_per_doc" -> perRow(med("extract") - med("dom"), nh),
      "extract.us_per_doc" -> perRow(med("extract"), nh),
      "pdf.us_per_doc" -> perRow(med("pdf"), s.pdfs.length))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
