package graft

import graft.kernels.{MainTextExtractor, PdfTextExtractor, ScalarKernels}
import graft.gen.PagesGen
import graft.model.Span
import graft.pipeline.ExtractPipeline
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests (SURVEY §5.2 #3): totality, span validity,
  * golden equivalence over the generator's whole seed space, idempotence.
  * Pure kernels — no SparkSession.
  */
class KernelPropertySpec extends AnyFunSuite {

  private def check(name: String, p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: $res")
  }

  /** Span invariant: ordered, in-bounds, non-overlapping, and the spans
    * reconstruct the text exactly ('\n' between consecutive spans).
    */
  private def spansValid(text: String, spans: Array[Span]): Boolean = {
    var ok = true
    var i = 0
    while (ok && i < spans.length) {
      val s = spans(i)
      ok = s.begin >= 0 && s.begin <= s.end && s.end <= text.length &&
        (i == 0 || spans(i - 1).end < s.begin)
      i += 1
    }
    ok && spans.map(s => text.substring(s.begin, s.end)).mkString("\n") == text
  }

  test("property: HTML extractor is total and spans are valid on arbitrary strings") {
    check("html-total", Prop.forAll { (s: String) =>
      val ex = MainTextExtractor.extract(s)
      spansValid(ex.text, ex.spans)
    })
  }

  test("property: metadata-tier kernels are total on arbitrary strings") {
    val u = "http://h.example/p"
    check("article-total", Prop.forAll { (s: String) =>
      graft.kernels.ArticleKernel.extract(s, u); true
    })
    check("markdown-total", Prop.forAll { (s: String) =>
      graft.kernels.MarkdownKernel.convert(s, u); true
    })
    check("compliance-total", Prop.forAll { (s: String) =>
      graft.kernels.ComplianceKernel.extract(s, u); true
    })
    check("i18n-total", Prop.forAll { (s: String) =>
      graft.kernels.I18nKernel.extract(s, u); true
    })
    check("dedupkey-total", Prop.forAll { (s: String) =>
      graft.kernels.UnicodeKernel.dedupKey(s)
      graft.kernels.UnicodeKernel.scriptMix(s); true
    })
    check("c4-total", Prop.forAll { (s: String) =>
      graft.kernels.C4Filter.filterLines(s); true
    })
    // docInfo on arbitrary bytes (the /Info path through the object index)
    val bytesGen = Gen.choose(0, 1024).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    check("docinfo-total", Prop.forAll(bytesGen) { bs =>
      PdfTextExtractor.docInfo("%PDF-1.4 /Info 5 0 R ".getBytes ++ bs.toArray); true
    }, n = 100)
  }

  test("property: PDF extractor is total on arbitrary bytes") {
    val bytesGen = Gen.choose(0, 2048).flatMap(n => Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)))
    check("pdf-total", Prop.forAll(bytesGen) { bs =>
      PdfTextExtractor.extract(bs.toArray); true
    }, n = 100)
    // and on %PDF-prefixed garbage (hits the stream scanner)
    val pdfGen = bytesGen.map(bs => "%PDF-1.4 stream\n".getBytes ++ bs.toArray)
    check("pdf-total-magic", Prop.forAll(pdfGen) { bs =>
      PdfTextExtractor.extract(bs); true
    }, n = 100)
  }

  test("property: generated corpus extracts byte-identically over the seed space") {
    val gen = for {
      i <- Gen.choose(0L, 1000000L)
      seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (i, seed)
    check("golden-all-seeds", Prop.forAll(gen) { case (i, seed) =>
      val gp = PagesGen.genPage(i, seed)
      val doc = ExtractPipeline.extractDoc(gp.row, 64 << 20)
      doc.error == null && doc.text == gp.expected && spansValid(doc.text, doc.spans.toArray)
    })
  }

  test("property: boilerplate-strip monotonicity — chrome seed never changes main text") {
    val gen = for {
      content <- Gen.choose(0L, Long.MaxValue)
      chromeA <- Gen.choose(0L, Long.MaxValue)
      chromeB <- Gen.choose(0L, Long.MaxValue)
    } yield (content, chromeA, chromeB)
    check("monotonic", Prop.forAll(gen) { case (c, a, b) =>
      val paras = (0 until 3).map(p => PagesGen.sentence(c + p, 20))
      val ta = MainTextExtractor.extract(PagesGen.htmlPage(paras, None, a)).text
      val tb = MainTextExtractor.extract(PagesGen.htmlPage(paras, None, b)).text
      ta == tb && ta == PagesGen.htmlExpected(paras, None)
    })
  }

  test("property: cleanOcrText is idempotent") {
    check("cleanocr-idem", Prop.forAll { (s: String) =>
      val once = ScalarKernels.cleanOcrText(s)
      ScalarKernels.cleanOcrText(once) == once
    })
  }
}
