package graft.kernels

import graft.model.Span

/** Per-row extraction dispatch: content sniffing + kernel invocation +
  * poison-pill isolation (SURVEY §2.2 "extension dispatch" re-expressed as
  * content sniffing on magic bytes — the reference dispatched on filename
  * extension, api.py:123-125; we dispatch on `%PDF-` vs HTML-ish bytes).
  *
  * Errors never fail the Spark task: a failing document comes back with
  * `error` set and no text (reference analog: per-request try/except,
  * api.py:291-336).
  */
object ExtractKernel {

  final val KindHtml = "html"
  final val KindPdf = "pdf"
  final val KindPassthrough = "passthrough"
  final val KindEmpty = "empty"

  def sniff(html: Array[Byte]): String = {
    if (html == null || html.length == 0) KindPassthrough
    else if (html.length >= 5 &&
      html(0) == '%' && html(1) == 'P' && html(2) == 'D' &&
      html(3) == 'F' && html(4) == '-') KindPdf
    else KindHtml
  }

  /** Transport codec sniff — crawl tables frequently store the raw
    * compressed response body; the payload is decompressed transparently
    * before content sniffing (the CONTENT type is whatever is inside).
    * gzip (1f 8b) and zstd (28 b5 2f fd — zstd-jni ships with Spark)
    * are the two codecs real crawl archives use.
    */
  def transportOf(b: Array[Byte]): String = {
    if (b == null || b.length < 4) null
    else if (b(0) == 0x1f.toByte && (b(1) & 0xff) == 0x8b) "gzip"
    else if (b(0) == 0x28.toByte && (b(1) & 0xff) == 0xb5 &&
      (b(2) & 0xff) == 0x2f && (b(3) & 0xff) == 0xfd) "zstd"
    else null
  }

  def isGzip(b: Array[Byte]): Boolean = transportOf(b) == "gzip"

  /** Bounded transport decompression; None on corrupt/truncated/
    * oversized streams (decompression-bomb guard).
    */
  def decompressTransport(bytes: Array[Byte],
      maxOut: Int = 64 * 1024 * 1024): Option[Array[Byte]] =
    try {
      val in: java.io.InputStream = transportOf(bytes) match {
        case "gzip" =>
          new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
        case "zstd" =>
          new com.github.luben.zstd.ZstdInputStream(new java.io.ByteArrayInputStream(bytes))
        case _ => return None
      }
      val out = new java.io.ByteArrayOutputStream(math.min(bytes.length * 4, 1 << 20))
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      var total = 0L
      while (n >= 0 && total <= maxOut) {
        out.write(chunk, 0, n)
        total += n
        n = in.read(chunk)
      }
      in.close()
      if (total > maxOut) None else Some(out.toByteArray)
    } catch { case _: Throwable => None }

  /** Back-compat alias (gzip only). */
  def gunzip(bytes: Array[Byte], maxOut: Int = 64 * 1024 * 1024): Option[Array[Byte]] =
    if (isGzip(bytes)) decompressTransport(bytes, maxOut) else None

  /** One extracted document: `text` is null exactly when `error` is set
    * or there are no bytes (`kind` passthrough); `pageCount` is the
    * number of PDF pages joined, 1 for every other document.
    */
  final case class Doc(kind: String, text: String, spans: Array[Span], pageCount: Int,
      error: String)

  private val NoSpans = Array.empty[Span]
  private val NoBytes = Doc(KindPassthrough, null, NoSpans, 1, null)

  /** The one per-document dispatch: transport decode, magic-byte sniff,
    * then the HTML or PDF kernel. PDF pages (already in page-tree order)
    * join with '\n', spans re-offset into the concatenation. A failing
    * document returns an error Doc, never throws.
    */
  def extract(raw: Array[Byte]): Doc = {
    // a corrupt compressed body is an error Doc, never a task failure
    val codec = transportOf(raw)
    val bytes =
      if (codec == null) raw
      else decompressTransport(raw) match {
        case Some(b) => b
        case None => return Doc(KindHtml, null, NoSpans, 1, s"${codec}_corrupt")
      }
    val kind = sniff(bytes)
    try {
      kind match {
        case KindPassthrough => NoBytes
        case KindPdf =>
          val res = PdfTextExtractor.extract(bytes)
          val pages = res.pages
          if (pages.isEmpty) {
            val err =
              if (res.unsupported > 0) s"pdf_unsupported:${res.unsupported}" else "pdf_empty"
            Doc(KindPdf, null, NoSpans, 1, err)
          } else if (pages.length == 1) Doc(KindPdf, pages(0).text, pages(0).spans, 1, null)
          else {
            val sb = new java.lang.StringBuilder(256)
            val spans = Array.newBuilder[Span]
            pages.foreach { p =>
              if (sb.length > 0) sb.append('\n')
              val off = sb.length
              sb.append(p.text)
              p.spans.foreach(s => spans += Span(s.begin + off, s.end + off, s.kind))
            }
            Doc(KindPdf, sb.toString, spans.result(), pages.length, null)
          }
        case _ =>
          val ex = MainTextExtractor.extract(HtmlCharset.decode(bytes))
          Doc(KindHtml, ex.text, ex.spans, 1, null)
      }
    } catch {
      case e: Throwable =>
        Doc(kind, null, NoSpans, 1,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }
  }
}
