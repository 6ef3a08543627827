package graft

import graft.functions.ExtractDoc
import org.apache.spark.sql.Row

/** Struct-returning extract_doc expression: SQL registration, dispatch
  * kinds, null/failure shapes, codegen parity with interpreted eval.
  */
class ExtractDocSpec extends SparkTestBase {
  import spark.implicits._

  private def run(sql: String): Array[Row] = {
    ExtractDoc.register(spark)
    spark.sql(sql).collect()
  }

  test("html bytes -> text + n_chars + kind in one struct") {
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val html = s"<html><body><p>$para</p></body></html>"
    val r = run(s"SELECT extract_doc(cast('$html' as binary)) as d").head.getStruct(0)
    assert(r.getString(0) == para)
    assert(r.getInt(1) == para.length)
    assert(r.getString(2) == "html")
  }

  test("failure shapes: garbage pdf -> null text, kind pdf; empty -> passthrough") {
    val bad = run("SELECT extract_doc(cast('%PDF-1.4 no streams' as binary)) as d").head.getStruct(0)
    assert(bad.isNullAt(0) && bad.getInt(1) == 0 && bad.getString(2) == "pdf")
    val empty = run("SELECT extract_doc(cast('' as binary)) as d").head.getStruct(0)
    assert(empty.isNullAt(0) && empty.getString(2) == "passthrough")
    val nul = run("SELECT extract_doc(cast(null as binary)) as d").head
    assert(nul.isNullAt(0))
  }

  test("corrupt gzip/zstd transport -> null text, kind html (the typed path's doc_kind)") {
    ExtractDoc.register(spark)
    val body = "<p>alpha beta gamma delta epsilon zeta eta theta</p>".getBytes("UTF-8")
    val rows = Seq(
      graft.gen.PagesGen.deflateGzip(body).take(8),
      com.github.luben.zstd.Zstd.compress(body, 3).take(6))
      .toDF("html").selectExpr("extract_doc(html) AS d").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val d = r.getStruct(0)
      assert(d.isNullAt(0) && d.getInt(1) == 0 && d.getString(2) == "html")
    }
  }

  test("codegen path over a range scan matches per-row eval") {
    ExtractDoc.register(spark)
    val rows = spark.range(50)
      .selectExpr("cast(concat('<p>', repeat('word ', 12), id, '</p>') as binary) as html")
      .selectExpr("extract_doc(html) as d")
      .selectExpr("d.text as text", "d.n_chars as n", "d.kind as kind")
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getString(2) == "html")
      assert(r.getString(0).length == r.getInt(1))
      assert(r.getString(0).startsWith("word word"))
    }
  }
}
