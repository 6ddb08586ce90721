package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all graft suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

/** Every SURVEY §2 query runs and returns rows at sf0.001, and leaves
  * behind no cache or checkpoint its result does not read. */
class QueriesSmokeSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.graft.CacheEntries
  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name returns rows") {
      val rdds0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val entries0 = CacheEntries(spark)
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned 0 rows")
      val refs = Settle.referencedBy(Seq(df))
      val strayRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet -- rdds0 -- refs.rddIds
      val strayEntries = CacheEntries(spark).filterNot(e => entries0.exists(_ eq e) || refs.holds(e))
      assert(strayRdds.isEmpty && strayEntries.isEmpty,
        s"$name left ${strayRdds.size} persistent RDDs and ${strayEntries.size} cache entries " +
          "its result does not reference")
    }
  }
  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
  test("every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
  /** `file:line: text` of every line of the given graft sources that
    * `bad(file, line)` flags. */
  private def offendingLines(files: Seq[String])(
      bad: (String, String) => Boolean): Seq[String] = {
    val paths = files.map(f => f -> java.nio.file.Path.of("src/main/scala/graft", f))
    assert(paths.forall(p => java.nio.file.Files.isRegularFile(p._2)))
    paths.flatMap { case (f, p) =>
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if bad(f, line) => s"$p:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
  }
  private val registries = Seq("relational/Relational.scala",
    "typesystem/TypeQueries.scala", "llm/LlmQueries.scala")
  test("no query registry or Tables spells DuckDB SQL (graft.oracle owns it)") {
    val duck = """list_transform|string_split|list_inner_product|epoch\(""".r
    val offenders = offendingLines(registries :+ "Tables.scala") { (_, line) =>
      duck.findFirstIn(line).isDefined
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
  test("no streaming fold or registry re-spells a shared partial aggregate") {
    // the group top-k heap, the Count-Min bucket rule, t68's lags, p5's
    // weight units and the OHLC bar struct live in graft.operators; a
    // stream applies its watermark over the one body it shares
    val spelled = Seq("TopKAgg(", "sd + \"|\"", "lag(\"value\", 3)",
      "regexp_extract(col(\"source\")", "min(struct(col(\"us\")")
    val stream = "streaming/StreamingOps.scala"
    val batchCopy = """def \w+Batch\(""".r
    val offenders = offendingLines(stream +: registries) { (f, line) =>
      spelled.exists(line.contains) ||
        (f == stream && batchCopy.findFirstIn(line).isDefined)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

/** Sketch estimates must track exact distinct counts closely. */
class SketchSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  test("HLL sketch estimates within 2% of exact distincts") {
    val est = SparkEntry.queries("q30_sketch_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = relational.Relational.q9Distinct(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (flag, nParts) =>
      val got = est(flag)._1
      assert(math.abs(got - nParts) / nParts < 0.02, s"$flag: $got vs $nParts")
    }
  }

  test("HLL union of disjoint sketches tracks the combined distinct count") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches._
    val a = (0 until 3000).map(i => s"a$i").toDF("v").agg(hllSketch(col("v")).as("sk"))
    val b = (0 until 2000).map(i => s"b$i").toDF("v").agg(hllSketch(col("v")).as("sk"))
    val u = a.crossJoin(b.withColumnRenamed("sk", "sk2"))
      .select(hllEstimate(hllUnion(col("sk"), col("sk2"))).as("est"))
      .first().getDouble(0)
    assert(math.abs(u - 5000.0) / 5000.0 < 0.05, s"union estimate $u vs 5000")
  }

  test("q60 histogram quantile is within one grid cell of the rank-ceil(qn) order statistic") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q60_sketch_quantiles")(spark, sf)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val byGroup = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
    byGroup.foreach { case (flag, xs) =>
      val w = (xs.last - xs.head) / 4096
      Seq(0.25, 0.5, 0.75, 0.9).zip(est(flag)).foreach { case (q, e) =>
        // contract: est = lower edge of the bucket holding the
        // ceil(q*n)-th order statistic, so stat ∈ [est, est + w]
        val stat = xs(math.ceil(q * xs.length).toInt - 1)
        assert(stat >= e - 1e-6 && stat <= e + w + 1e-6,
          s"$flag q=$q: stat $stat outside [${e}, ${e + w}]")
      }
    }
  }
}
