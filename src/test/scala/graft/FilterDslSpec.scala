package graft

import graft.dsl.FilterDsl
import graft.routing.{RouteConfig, Router, RoutingTable}
import org.apache.spark.sql.DataFrame

/** DSL -> Column translation table, mirroring the reference's parser tests
  * (SimpleMessageFilterParsingTest.java / CompositeMessageFilterParsingTest
  * .java) upgraded from tree-shape assertions to behavioral row-set checks.
  */
class FilterDslSpec extends SparkSpec {
  import spark.implicits._

  lazy val df: DataFrame = Seq(
    // (routingKey, value, name, flag, tsStr, millis, nested-b)
    ("app1", 1.0, "alpha", true, "2024-01-01 00:00:00", 1704067200000L, 2L),
    ("app2", 2.5, "beta", false, "2024-06-15 12:00:00", 1718452800000L, 3L),
    ("app3", 10.0, "gamma", true, "2025-01-01 00:00:00", 1735689600000L, 4L),
    ("other", -1.0, null, false, "2023-01-01 00:00:00", 1672531200000L, 5L)
  ).toDF("routingKey", "value", "name", "flag", "tstr", "millis", "b")
    .selectExpr("routingKey", "value", "name", "flag", "tstr", "millis",
      "named_struct('bar', b) as foo")

  private def keys(filter: String): Seq[String] =
    df.filter(FilterDsl.compile(filter)).select("routingKey")
      .collect().map(_.getString(0)).sorted.toSeq

  test("equality / inequality on strings, booleans, null, numbers") {
    assert(keys("""xpath("name") = "alpha"""") == Seq("app1"))
    assert(keys("""xpath("name") != "alpha"""") == Seq("app2", "app3"))
    assert(keys("""xpath("flag") = true""") == Seq("app1", "app3"))
    assert(keys("""xpath("name") = null""") == Seq("other"))
    assert(keys("""xpath("name") != null""") == Seq("app1", "app2", "app3"))
    assert(keys("""xpath("value") = 2.5""") == Seq("app2"))
  }

  test("numeric comparison coerces to double; between is half-open [a, b)") {
    assert(keys("""xpath("value") > 1""") == Seq("app2", "app3"))
    assert(keys("""xpath("value") >= 1""") == Seq("app1", "app2", "app3"))
    assert(keys("""xpath("value") < 1""") == Seq("other"))
    assert(keys("""xpath("value") <= 1.0""") == Seq("app1", "other"))
    assert(keys("""xpath("value") between (1, 10)""") == Seq("app1", "app2"))
  }

  test("in, regex (partial match), is null, exists") {
    assert(keys("""xpath("name") in ("alpha", "gamma")""") == Seq("app1", "app3"))
    assert(keys("""xpath("value") in (1, -1)""") == Seq("app1", "other"))
    // PARTIAL match: "et" matches "beta" only if unanchored find
    assert(keys("""xpath("name") =~ "et"""") == Seq("app2"))
    assert(keys("""xpath("name") =~ "^a"""") == Seq("app1"))
    assert(keys("""xpath("name") is null""") == Seq("other"))
    assert(keys("""xpath("name") exists""") == Seq("app1", "app2", "app3"))
    assert(keys("""exists xpath("name")""") == Seq("app1", "app2", "app3"))
  }

  test("boolean combinators: and binds tighter than or; not; parens; true/false") {
    assert(keys("""xpath("value") > 1 and xpath("flag") = true""") == Seq("app3"))
    assert(keys("""xpath("name") = "alpha" or xpath("name") = "beta" and xpath("flag") = false""")
      == Seq("app1", "app2"))
    assert(keys("""(xpath("name") = "alpha" or xpath("name") = "beta") and xpath("flag") = false""")
      == Seq("app2"))
    assert(keys("""not xpath("flag") = true""") == Seq("app2", "other"))
    assert(keys("true") == Seq("app1", "app2", "app3", "other"))
    assert(keys("false") == Seq())
  }

  test("xpath path navigation over nested structs (JXPath '/' separator)") {
    assert(keys("""xpath("foo/bar") > 3""") == Seq("app3", "other"))
    assert(keys("""xpath("foo/bar") = xpath("foo/bar")""")
      == Seq("app1", "app2", "app3", "other"))
  }

  test("time-millis and time-string comparisons") {
    assert(keys("""xpath("millis") >= time-millis("yyyy-MM-dd", "2024-06-01")""")
      == Seq("app2", "app3"))
    assert(keys("""xpath("millis") between (time-millis("yyyy-MM-dd", "2024-01-01"), time-millis("yyyy-MM-dd", "2025-01-01"))""")
      == Seq("app1", "app2"))
    assert(keys("""xpath("tstr") < time-string("yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "2024-06-15")""")
      == Seq("app1", "other"))
  }

  test("malformed filters raise parse errors") {
    intercept[Exception](FilterDsl.compile("""xpath("a") ="""))
    intercept[Exception](FilterDsl.compile("""xpath("a") = "x" trailing"""))
    intercept[Exception](FilterDsl.compile("""xpath("a") in ()"""))
    intercept[Exception](FilterDsl.compile("""xpath("a") =~ 5"""))
  }

  test("router fan-out: filters, alias, default route, keyless quarantine") {
    val events = Seq(
      ("clicks", 5.0), ("clicks", 50.0), ("errors", 1.0), ("misc", 2.0), (null, 3.0)
    ).toDF("routingKey", "value")
    val table = RoutingTable("routingKey", Seq(
      RouteConfig("hot", Some("""xpath("value") >= 10"""), None),
      RouteConfig("hot", Some("""xpath("routingKey") = "errors""""), Some("errs")),
      RouteConfig("cold", Some("""xpath("routingKey") = "clicks""""))))
    val out = tmpDir("fanout-two-routes")
    val counts = Router.fanoutWrite(events, table, out)
    def sink(name: String) = spark.read.parquet(s"$out/__sink=$name")
      .select("routingKey", "value").as[(String, Double)].collect().toSet
    // hot: two routes into one sink — value>=10 (clicks/50) + errors aliased
    assert(sink("hot") == Set(("clicks", 50.0), ("errs", 1.0)))
    assert(sink("cold").map(_._2) == Set(5.0, 50.0))
    // default: matched no route (misc)
    assert(sink("default").map(_._1) == Set("misc"))
    // quarantine: null key
    assert(sink("quarantine").size == 1)
    assert(counts == Map("hot" -> 2L, "cold" -> 2L, "default" -> 1L,
      "quarantine" -> 1L))
  }

  test("fanoutWrite (one-pass): per-sink counts, alias rewrite, multi-match duplication") {
    val events = Seq(
      ("clicks", 5.0), ("clicks", 50.0), ("errors", 1.0), ("misc", 2.0), (null, 3.0)
    ).toDF("routingKey", "value")
    val table = RoutingTable("routingKey", Seq(
      RouteConfig("hot", Some("""xpath("value") >= 10"""), None),
      RouteConfig("errs", Some("""xpath("routingKey") = "errors""""), Some("e-alias")),
      RouteConfig("cold", Some("""xpath("routingKey") = "clicks""""))))
    val out = tmpDir("fanout-write")
    val counts = Router.fanoutWrite(events, table, out)
    assert(counts == Map("hot" -> 1L, "errs" -> 1L, "cold" -> 2L,
      "default" -> 1L, "quarantine" -> 1L))
    // alias rewrote the key in the errs sink
    val errs = spark.read.parquet(s"$out/__sink=errs")
      .select("routingKey").as[String].collect().toSeq
    assert(errs == Seq("e-alias"))
    // multi-match duplication: clicks/50 reaches both hot and cold
    val hot = spark.read.parquet(s"$out/__sink=hot").select("value").as[Double].collect().toSet
    val cold = spark.read.parquet(s"$out/__sink=cold").select("value").as[Double].collect().toSet
    assert(hot == Set(50.0) && cold == Set(5.0, 50.0))
  }

  test("routes parse from JSON config") {
    val routes = Router.parseRoutes(
      """[{"sink":"a","filter":"xpath(\"x\") = 1"},{"sink":"b","alias":"z"}]""")
    assert(routes == Seq(
      RouteConfig("a", Some("""xpath("x") = 1"""), None),
      RouteConfig("b", None, Some("z"))))
  }
}
