package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.samplesBeyond(100, 0.9) == 10)
    assert(Stats.tailQuantile((1 to 100).map(_.toDouble), 0.9).isDefined)
    assert(Stats.samplesBeyond(99, 0.9) == 9)
    assert(Stats.tailQuantile((1 to 99).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tailQuantile((1 to 1000).map(_.toDouble), 0.99).isDefined)
    assert(Stats.tailQuantile((1 to 1000).map(_.toDouble), 0.999).isEmpty)
  }

  test("quantiles interpolate linearly between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("span self time is its duration minus the union of its children") {
    val parent = Span(0, "p", -1, 0, 0L, 100L)
    val kids = Seq(Span(1, "a", 0, 0, 10L, 30L), Span(2, "b", 0, 0, 20L, 50L),
      Span(3, "c", 0, 0, 90L, 120L))
    // covered: [10, 50) and [90, 100), clipped to the parent
    assert(Span.selfNs(parent, kids) == 50L)
    assert(Span.selfNs(parent, Nil) == 100L)
    assert(Span.totals(parent +: kids)("p") == 100 / 1e9)
  }

  test("the tracer nests spans and records nothing while disabled") {
    val t = new Tracer(false)
    t.span("off")(())
    assert(t.all.isEmpty)
    t.enabled = true
    t.span("outer") { t.span("inner")(()) }
    val Seq(outer, inner) = t.all
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val lines = t.toJsonLines.toSeq
    assert(lines.head == s"""{"id":0,"name":"outer","parent":-1,"rep":0,"start_ns":${outer.startNs},""" +
      s""""end_ns":${outer.endNs},"self_ns":${outer.durationNs - inner.durationNs}}""")
  }

  test("every metric name is well formed and BENCHMARK.json declares exactly the catalog") {
    val names = (Catalog.endToEnd ++ Catalog.perLayer).map(_._1)
    assert(names.forall(_.matches(Catalog.NamePattern)), names.filterNot(_.matches(Catalog.NamePattern)))
    assert(names.distinct.length == names.length)
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val declared = "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\"".r.findAllMatchIn(spec).map(_.group(1)).toSet
    assert(declared == names.toSet)
  }

  test("the result line carries exactly correct, attempted, failed and metrics") {
    val line = Main.resultJson(correct = true, 3, 0, Seq(("setup_s", 1.5, "s")))
    assert(line == """{"correct":true,"attempted":3,"failed":0,"metrics":{"setup_s":{"value":1.5,"unit":"s"}}}""")
  }

  test("the generator gives the properties the workloads rely on, for two seeds") {
    val target = java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    val dir = java.nio.file.Files.createTempDirectory(target, "gen-").toString
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      Seq(1L, 2L).foreach { seed =>
        Gen.writeEvents(spark, Pipelines.Events, seed, s"$dir/$seed")
        val p = Gen.properties(spark, s"$dir/$seed")
        assert(p.ok(Pipelines.Events), s"seed $seed: $p")
      }
      val a = spark.read.parquet(s"$dir/1").limit(5).collect().toSeq
      Gen.writeEvents(spark, Pipelines.Events, 1L, s"$dir/again")
      assert(spark.read.parquet(s"$dir/again").limit(5).collect().toSeq == a, "same seed, same events")
    } finally {
      spark.stop()
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
