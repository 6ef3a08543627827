package graft

import graft.gen.PagesGen
import graft.model.PageRow
import graft.pipeline.{ExtractJob, ExtractPipeline, Ledger}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def corpusDf(n: Int) =
    PagesGen.corpus(n, seed = 42L).map(_.row).toDS().toDF()

  test("extract pipeline: byte-identical text for every corpus url") {
    val corpus = PagesGen.corpus(300, seed = 42L)
    val out = ExtractPipeline
      .extract(spark, corpus.map(_.row).toDS().toDF(),
        ExtractPipeline.Conf(repartition = 8))
      .collect()
      .map(d => d.url -> d).toMap
    assert(out.size == corpus.size)
    corpus.foreach { gp =>
      val d = out(gp.row.url)
      assert(d.error == null, s"${gp.row.url}: ${d.error}")
      assert(d.text == gp.expected, s"${gp.kind} ${gp.row.url}")
      assert(d.n_chars == d.text.length)
      // span invariants over the merged doc
      var last = 0
      d.spans.foreach { s =>
        assert(s.begin >= last && s.end <= d.text.length && s.begin <= s.end)
        last = s.end
      }
    }
  }

  test("expression fast path matches the typed pipeline's text per url (null = failure shape)") {
    val corpus = PagesGen.corpus(300, seed = 42L)
    val df = corpus.map(_.row).toDS().toDF()
    val fast = ExtractPipeline.extractText(spark, df, ExtractPipeline.Conf(repartition = 4))
      .collect().map(r => r.getAs[String]("url") -> Option(r.getAs[String]("text"))).toMap
    assert(fast.size == corpus.size)
    corpus.foreach { gp =>
      // exact shape: empty rows → null, everything else → the golden text
      val expected = if (gp.kind == "empty") None else Some(gp.expected)
      assert(fast(gp.row.url) == expected, s"${gp.kind} ${gp.row.url}")
    }

    // adversarial rows: every surface runs the same per-row dispatch
    // (ExtractKernel.extract), so they agree on transports, PDFs,
    // failures and the size cap
    def row(url: String, html: Array[Byte], text: String = "") =
      PageRow(url, new java.sql.Timestamp(0), html, text, "en")
    val html = PagesGen.htmlPage(Seq("transport wrapped main content"), None, 3L)
      .getBytes("UTF-8")
    val small = Seq(
      row("a://gzip-html", PagesGen.deflateGzip(html)),
      row("a://zstd-pdf", com.github.luben.zstd.Zstd.compress(
        PagesGen.pdfBytes(Seq(Seq("pdf inside zstd")), compress = true), 3)),
      row("a://pdf-3-pages", PagesGen.pdfBytes(
        Seq(Seq("page one"), Seq("page two", "second line"), Seq("page three")),
        compress = false)),
      row("a://corrupt-gzip", PagesGen.deflateGzip(html).take(8)),
      row("a://corrupt-zstd", com.github.luben.zstd.Zstd.compress(html, 3).take(6)),
      row("a://pdf-no-streams", "%PDF-1.4 no streams".getBytes("UTF-8"), "crawl text"),
      row("a://gzip-empty-with-text", PagesGen.deflateGzip(Array.emptyByteArray), "crawl text"),
      row("a://empty-with-text", Array.emptyByteArray, "crawl text"),
      row("a://empty-no-text", Array.emptyByteArray))
    val maxBytes = small.map(_.html.length).max
    val rows = small :+ row("a://over-cap", html ++ Array.fill[Byte](maxBytes)(' '))
    val adv = rows.toDS().toDF()
    val conf = ExtractPipeline.Conf(repartition = 4, maxBytes = maxBytes)
    val typed = ExtractPipeline.extract(spark, adv, conf).collect().map(d => d.url -> d).toMap
    val text = ExtractPipeline.extractText(spark, adv, conf)
      .collect().map(r => r.getAs[String]("url") -> Option(r.getAs[String]("text"))).toMap
    graft.functions.ExtractDoc.register(spark)
    val expr = adv.selectExpr("url", "length(html) AS n", "extract_doc(html) AS d",
        "extract_main_text(html) AS t")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(typed.keySet == rows.map(_.url).toSet && text.keySet == typed.keySet)
    assert(typed("a://pdf-3-pages").page_count == 3)
    rows.foreach { r =>
      val u = r.url
      val d = typed(u)
      // the fast path's null is both "failed" and "nothing" (kind empty)
      val want = if (d.error != null || d.doc_kind == "empty") None else Some(d.text)
      assert(text(u) == want, s"$u: typed ${d.doc_kind} ${d.error}")
      val e = expr(u)
      val doc = e.getStruct(2)
      if (e.getInt(1) > 0) assert(doc.getString(2) == d.doc_kind, u)
      assert(Option(e.getString(3)) == Option(doc.getString(0)), u)
    }
  }

  test("fast path does NOT surface crawl text for failed (non-empty-html) extraction") {
    // a failed PDF with crawl-provided text must stay null on the fast
    // path (the typed path marks it error='pdf_empty'), and a no-html row
    // must surface the crawl text (passthrough branch)
    val rows = Seq(
      PageRow("https://x.example/badpdf", new java.sql.Timestamp(0),
        "%PDF-1.4 no streams here".getBytes, "crawl text A", "en"),
      PageRow("https://x.example/pass", new java.sql.Timestamp(0),
        Array.emptyByteArray, "crawl text B", "en"))
    val out = ExtractPipeline.extractText(spark, rows.toDS().toDF())
      .collect().map(r => r.getAs[String]("url") -> Option(r.getAs[String]("text"))).toMap
    assert(out("https://x.example/badpdf").isEmpty)
    assert(out("https://x.example/pass").contains("crawl text B"))
  }

  test("host salt spreads a giant host over multiple partitions, result unchanged") {
    // one pathological host owning every row (the skew case salting exists for)
    val rows = (0 until 200).map { i =>
      val gp = PagesGen.genPage(i.toLong, seed = 9L, hosts = 1)
      gp.row.copy(url = s"https://giant.example/p/$i")
    }
    val df = rows.toDS().toDF()
    val salted = ExtractPipeline.extract(spark, df,
      ExtractPipeline.Conf(repartition = 8, hostSalt = 4))
    val nParts = salted.mapPartitions(it => Iterator.single(if (it.hasNext) 1 else 0))
      .collect().sum
    assert(nParts >= 2, s"giant host stayed on $nParts partition(s)")
    // salting only moves rows; extraction output is identical
    val a = salted.collect().map(d => d.url -> d.text).toMap
    val b = ExtractPipeline.extract(spark, df, ExtractPipeline.Conf(repartition = 8))
      .collect().map(d => d.url -> d.text).toMap
    assert(a == b)
  }

  test("poison pill: oversized + garbage rows isolate as error rows") {
    val rows = Seq(
      PageRow("u://big", new java.sql.Timestamp(0), Array.fill[Byte](2048)('x'), "", "en"),
      PageRow("u://garbage-pdf", new java.sql.Timestamp(0), "%PDF-1.4 garbage".getBytes, "", "en"))
    val out = ExtractPipeline
      .extract(spark, rows.toDS().toDF(), ExtractPipeline.Conf(maxBytes = 1024))
      .collect().map(d => d.url -> d).toMap
    assert(out("u://big").error.startsWith("too_large:"))
    assert(out("u://garbage-pdf").error != null) // no streams found
    assert(out.values.forall(_.text == ""))
  }

  test("extract job: day-partitioned write + ledger commit + resume skips committed days") {
    val outDir = tmpDir("graft-out")
    val ledgerDir = tmpDir("graft-ledger")
    // 200 golden corpus rows plus one that fails (pdf_empty), so the
    // failed count is not trivially 0
    val bad = PageRow("https://bad.example/pdf", new java.sql.Timestamp(1735693200000L),
      "%PDF-1.4 no streams".getBytes("UTF-8"), "", "en")
    val pages = corpusDf(200).union(Seq(bad).toDS().toDF()).cache()

    // a run's counts equal the rows of the ledger entries it committed
    // (one snapshot id per run) and the per-day stats it reports
    def reconciles(r: ExtractJob.Result): Unit = {
      val snap = Ledger.currentSnapshot(ledgerDir)
      val ledgerRows =
        Ledger.committed(ledgerDir).values.filter(_.snapshot == snap).map(_.rows).sum
      assert(r.docsOk + r.docsFailed == r.daysProcessed.map(_.rows).sum)
      assert(r.docsOk + r.docsFailed == ledgerRows)
      assert(r.docsFailed == r.daysProcessed.map(_.errors).sum)
    }
    // names and mtimes of each day dir's files: a day the job recomputes
    // is rewritten with new part files, so an unchanged listing shows the
    // resume filter kept that day away from the kernel
    def dayFiles(days: Iterable[String]): Map[String, Set[(String, Long)]] =
      days.map { d =>
        val files = Option(new java.io.File(s"$outDir/$d").listFiles()).getOrElse(Array.empty)
        d -> files.map(f => f.getName -> f.lastModified()).toSet
      }.toMap

    val r1 = ExtractJob.run(spark, pages, outDir, ledgerDir,
      ExtractPipeline.Conf(repartition = 4))
    assert(r1.daysProcessed.nonEmpty)
    assert(r1.docsOk == 200 && r1.docsFailed == 1)
    reconciles(r1)
    val full = spark.read.parquet(outDir).orderBy("url").collect()
    assert(full.length == 201)

    val committed1 = Ledger.committed(ledgerDir)
    assert(committed1.size == r1.daysProcessed.size)
    assert(committed1.values.map(_.rows).sum == 201)

    // rerun with everything committed: nothing recomputed
    val files1 = dayFiles(committed1.keys)
    assert(files1.values.forall(_.nonEmpty))
    val r2 = ExtractJob.run(spark, pages, outDir, ledgerDir,
      ExtractPipeline.Conf(repartition = 4))
    assert(r2.daysProcessed.isEmpty)
    assert(r2.docsOk == 0 && r2.docsFailed == 0)
    assert(dayFiles(committed1.keys) == files1) // no day rewritten

    // kill-and-restart: drop half the ledger, delete those day dirs
    val days = committed1.keys.toSeq.sorted
    val dropped = days.take(days.size / 2)
    dropped.foreach { d =>
      Ledger.drop(ledgerDir, d)
      val dir = new java.io.File(s"$outDir/$d")
      if (dir.isDirectory) dir.listFiles().foreach(_.delete())
      dir.delete()
    }
    val kept = days.filterNot(dropped.contains)
    val files3 = dayFiles(kept)
    val r3 = ExtractJob.run(spark, pages, outDir, ledgerDir,
      ExtractPipeline.Conf(repartition = 4))
    assert(r3.daysProcessed.map(s => s"p_day=${s.day}").toSet == dropped.toSet)
    assert(dayFiles(kept) == files3) // still-committed days not rewritten
    // only uncommitted days were recomputed
    val droppedRows = committed1.filter(e => dropped.contains(e._1)).values.map(_.rows).sum
    assert(r3.docsOk + r3.docsFailed == droppedRows)
    reconciles(r3)

    // final table identical to an uninterrupted run
    val after = spark.read.parquet(outDir).orderBy("url").collect()
    assert(after.length == 201)
    assert(after.map(_.getAs[String]("url")).sameElements(full.map(_.getAs[String]("url"))))
    assert(after.map(_.getAs[String]("text")).sameElements(full.map(_.getAs[String]("text"))))
    pages.unpersist()
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }

  test("multimodal: binary plumbing with stubbed decoder") {
    import graft.ops.MultimodalOps
    val media = Seq(
      MultimodalOps.MediaRow(1L, Array[Byte](1, 2, 3, 4)),
      MultimodalOps.MediaRow(2L, Array.emptyByteArray)).toDS()
    val out = MultimodalOps.decodeAll(spark, media).collect().map(m => m.media_id -> m).toMap
    assert(out(1L).byte_len == 4 && out(1L).features.sum == 4f)
    assert(out(2L).byte_len == 0)
  }
}
