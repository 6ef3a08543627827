package graft

import graft.gen.PagesGen
import graft.ops._
import graft.pipeline.ExtractPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry record: a query's name, its Spark plan over an sf dir,
  * and the equivalent ANSI SQL DuckDB runs on the same parquet tables.
  * Column names + types match the Spark side (the oracle compare sorts
  * columns by name and hashes values).
  */
final case class Q(name: String, run: (SparkSession, String) => DataFrame, oracleSql: String)

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family registers one [[Q]] per query:
  *  - ExtractionOps: the real HTML/PDF kernel end-to-end (round-trip
  *    oracle: extract(wrap(text)) == text, byte-identical)
  *  - RelationalOps: pipeline-stage analogs over TPC-H-ish tables
  *  - TextOps / DedupOps / SimilarityOps / MultimodalOps: training-data
  *    pipeline operators over documents/embeddings
  */
object SparkEntry {

  /** Flagship: full extraction pipeline (chrome-wrapped synthetic corpus,
    * HTML + multi-page PDF + passthrough mix, url-hash repartition) on
    * sf0.001-sized input; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val corpus = PagesGen.corpus(2000, seed = 42L)
    val pages = corpus.map(_.row).toDS()
    ExtractPipeline
      .extract(spark, pages.toDF(), ExtractPipeline.Conf(repartition = 32))
      .toDF()
  }

  /** Every query of every family, one record each; names are distinct. */
  lazy val registry: Seq[Q] = requireDistinct(
    ExtractionOps.registry ++ RelationalOps.registry ++ TextOps.registry ++
      DedupOps.registry ++ SimilarityOps.registry ++ MultimodalOps.registry ++
      ScalarOps.registry ++ FormOps.registry ++ AggOps.registry ++ SketchOps.registry ++
      SampleOps.registry ++ LinkOps.registry ++ RankOps.registry ++
      CorpusOps.registry ++ QualityOps.registry ++ ArticleOps.registry ++
      graft.streaming.StreamingOps.registry)

  /** `qs` unchanged; fails naming every query name that occurs twice. */
  private[graft] def requireDistinct(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names in registry: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** [[registry]] by name: each query's plan. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** [[registry]] by name: each query's DuckDB oracle SQL. */
  lazy val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** `SPARK_GRAFT_CPUS`, else every core of this host. */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one local session conf for correctness, bench, audit and test
    * runs: UTC (timestamp queries must agree with DuckDB), one shuffle
    * partition per core, no UI, WARN logging. [[Main]] builds its own:
    * on a cluster spark-submit sets its master and resources.
    */
  def localSession(app: String, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
