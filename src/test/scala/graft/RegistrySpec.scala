package graft

/** The query registry and the shared local session conf. */
class RegistrySpec extends SparkTestBase {

  private val names = SparkEntry.registry.map(_.name)

  test("registry names are distinct and well-formed") {
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate names: ${dups.mkString(", ")}")
    // q1_agg keeps its TPC-H-style name
    val bad = names.filterNot(_.matches("q[0-9]*_[a-z0-9_]+"))
    assert(bad.isEmpty, s"malformed names: ${bad.mkString(", ")}")
  }

  test("a name registered twice fails, naming the duplicate") {
    val a = SparkEntry.registry.head
    val b = SparkEntry.registry(1)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.requireDistinct(Seq(a, b, a.copy(oracleSql = "SELECT 1")))
    }
    assert(e.getMessage.contains(a.name))
    assert(!e.getMessage.contains(b.name))
  }

  test("every query carries a non-blank oracle") {
    val blank = SparkEntry.registry.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }

  test("queries and oracleSql are keyed by exactly the registry names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
    assert(SparkEntry.oracleSql.size === SparkEntry.registry.size)
    assert(SparkEntry.queries.keySet === names.toSet)
  }

  test("localSession: UTC, one shuffle partition per core, no UI, AQE on") {
    // SparkTestBase.session is SparkEntry.localSession("graft-test", cpus)
    val s = SparkEntry.localSession("graft-test", SparkTestBase.cpus)
    assert(s eq spark)
    assert(s.sparkContext.master === s"local[${SparkTestBase.cpus}]")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") === SparkTestBase.cpus.toString)
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
  }
}
