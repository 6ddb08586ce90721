package graftperf

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Checks of the harness's own digest, selection and interval logic.
  * Throws on the first failure. */
object SelfTest {
  private var n = 0
  private def check(what: String)(cond: => Boolean): Unit = {
    n += 1
    if (!cond) throw new AssertionError(s"selftest failed: $what")
  }

  def run(): Unit = {
    digests()
    selection()
    intervals()
    println(s"selftest ok: $n checks")
  }

  private def digests(): Unit = {
    import Digest.norm
    check("null renders as null")(norm(null) == "null")
    check("NaN renders as NaN")(norm(Double.NaN) == "NaN")
    check("double renders shortest round-trip")(norm(0.1) == "0.1" && norm(1e21) == "1.0E21")
    check("float keeps float rendering")(norm(0.1f) == "0.1")
    check("binary renders as hex")(norm(Array[Byte](0, 15, -1)) == "000fff")
    check("doubles inside structs and arrays")(
      norm(Row(0.1, Seq(Double.NaN, null))) == "{0.1,[NaN,null]}")
    check("map order does not matter")(norm(Map("b" -> 1, "a" -> 2)) == norm(Map("a" -> 2, "b" -> 1)))
    check("separator keeps fields apart")(
      Digest.ofRows(Seq(Row("ab", "c")), Seq("x", "y")) != Digest.ofRows(Seq(Row("a", "bc")), Seq("x", "y")))
    check("row order does not matter")(
      Digest.ofRows(Seq(Row(1, "a"), Row(2, "b")), Seq("k", "v")) ==
        Digest.ofRows(Seq(Row(2, "b"), Row(1, "a")), Seq("k", "v")))
    check("duplicate rows count")(
      Digest.ofRows(Seq(Row(1), Row(1)), Seq("k")) != Digest.ofRows(Seq(Row(1)), Seq("k")))
    check("digest round-trips through text") {
      val d = Digest.ofRows(Seq(Row(1, "a")), Seq("k", "v"))
      Digest.parse(d.toString) == d
    }

    val spark = SparkSession.builder().master("local[1]").appName("graftperf-selftest")
      .config("spark.ui.enabled", "false").config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val schema = StructType(Seq(StructField("a", IntegerType), StructField("b", DoubleType),
        StructField("c", BinaryType)))
      val rows = Seq(Row(1, 0.5, Array[Byte](1)), Row(null, Double.NaN, null), Row(3, -0.0, Array[Byte]()))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      check("column order does not matter")(Digest.of(df) == Digest.of(df.select("c", "a", "b")))
      check("partitioning does not matter")(Digest.of(df) == Digest.of(df.repartition(3)))
      check("frame digest equals row digest")(Digest.of(df) == Digest.ofRows(rows, Seq("a", "b", "c")))
      check("a changed value changes the digest")(
        Digest.of(df) != Digest.of(df.selectExpr("a", "b + 0.0 as b", "c")))

      import spark.implicits._
      val entries = Seq((1, "a"), (2, "b"))
      val copies = Seq((2, "b"), (1, "a"), (1, "a"), (2, "b"), (1, "a"))
      check("copies of an entry digest as the entry")(
        Typecast.entryDigest(copies.toDF("vid", "r").repartition(3)) ==
          Digest.of(entries.toDF("vid", "r")))
      check("copies that disagree never match")(
        Typecast.entryDigest((copies :+ (2, "c")).toDF("vid", "r")) == Digest(-1L, 0L))
    } finally spark.stop()
  }

  private def selection(): Unit = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val cost = names.zipWithIndex.map { case (q, i) => q -> (i % 17) / 10.0 }.toMap
    def pick(ns: Seq[String]) = Queries.sweep(ns, cost, Perf.SweepStride, Perf.SweepMaxCost)
    val a = pick(names)
    check("the subset is fixed")(a == pick(names))
    check("input order does not matter")(a.sorted == pick(names.reverse).sorted)
    check("every family appears")(Queries.Families.forall(f => a.exists(_.head == f)))
    check("graph queries excluded")(a.forall(q => !Queries.Graph.contains(q)))
    check("no query twice")(a.distinct.size == a.size)
    check("only candidates within the cost cap")(a.forall(q => cost(q) <= Perf.SweepMaxCost))
    val pool = names.count(q => !Queries.Graph.contains(q) && cost(q) <= Perf.SweepMaxCost)
    check(s"about one in ${Perf.SweepStride}")(a.size >= pool / Perf.SweepStride)
    check("a stratum's middle query is picked") {
      val qs = Seq("q1", "q2", "q3", "q4", "q5")
      Queries.sweep(qs, qs.zipWithIndex.map { case (q, i) => q -> i / 10.0 }.toMap, 5, 1.0) == Seq("q3")
    }
    (0L until 20L).foreach { s =>
      val o = Queries.order(a, s)
      check(s"seed $s: same seed, same order")(o == Queries.order(a, s))
      check(s"seed $s: order is a permutation")(o.sorted == a.sorted)
    }
    check("another seed, another order")(Queries.order(a, 1L) != Queries.order(a, 2L))
    check("registry has only the eight families")(names.forall(q => Queries.Families.contains(q.head)))
    check("graph queries are registered")(Queries.Graph.forall(names.contains))
  }

  private def intervals(): Unit = {
    check("union of disjoint intervals")(Tracer.union(Seq((0L, 2L), (5L, 6L))) == 3L)
    check("union of overlapping intervals")(Tracer.union(Seq((3L, 8L), (0L, 4L), (5L, 6L))) == 8L)
    check("union of nothing")(Tracer.union(Nil) == 0L)
  }
}
