package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CacheEntries, PlanBridge}
import org.scalatest.funsuite.AnyFunSuite

/** The release guarantees of [[Settle]] scopes. */
class SettleSpec extends AnyFunSuite {
  import TestSpark._

  private def rdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def entries: Seq[AnyRef] = CacheEntries(spark)
  private def sameEntries(a: Seq[AnyRef], b: Seq[AnyRef]): Boolean =
    a.size == b.size && a.forall(x => b.exists(_ eq x))

  /** A fresh plan per call (distinct literal), so no two tests share a
    * CacheManager entry by accident. */
  private val salt = new java.util.concurrent.atomic.AtomicLong(0L)
  private def frame(n: Long = 1000L): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7 + lit(salt.incrementAndGet() * 100)).as("k"))

  test("a throw after cache and settle leaves persistent RDDs and the CacheManager as they were") {
    val (rdds0, entries0) = (rdds, entries)
    var cached: DataFrame = null
    val e = intercept[IllegalStateException] {
      Settle.scope("throwing") { st =>
        cached = st.cache(frame())
        cached.count()
        st.settle(cached.groupBy("k").count(), "groups")
        st.settleWith(frame(), "lazy")(_.count())
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(PlanBridge.cacheEntry(cached).isEmpty)
    assert(rdds == rdds0)
    assert(sameEntries(entries, entries0))
  }

  test("a result-referenced cache survives scope exit and still reads correctly") {
    val rdds0 = rdds
    var (kept, scratch) = (null: DataFrame, null: DataFrame)
    val out = Settle.scope("survivor") { st =>
      kept = st.cache(frame())
      scratch = st.cache(frame(50))
      scratch.count()
      st.settle(kept.filter(col("id") < 10), "unreferenced")
      kept.filter(col("id") % 2 === 0)
    }
    assert(PlanBridge.cacheEntry(kept).isDefined, "referenced cache released")
    assert(PlanBridge.cacheEntry(scratch).isEmpty, "unreferenced cache outlived its scope")
    assert(out.count() == 500L)
    assert(out.agg(sum("id")).head().getLong(0) == (0L until 1000L by 2).sum)
    // the only new persistent RDD is the surviving cache's block RDD
    val refs = Settle.referencedBy(Seq(out))
    assert((rdds -- rdds0).forall(refs.holds))
    assert(refs.entries.nonEmpty)
    spark.catalog.clearCache()
  }

  test("a checkpoint the result reads survives; superseded rounds are released") {
    val rdds0 = rdds
    val out = Settle.scope("rounds") { st =>
      var cur = st.settle(frame(100), "round-0")
      for (r <- 1 to 3) cur = st.settle(cur.filter(col("id") >= r), s"round-$r")
      cur
    }
    val added = rdds -- rdds0
    assert(added.size == 1, s"expected only the last round to survive, got $added")
    assert(added.forall(Settle.referencedBy(Seq(out)).holds))
    assert(out.count() == 97L)
    added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(false))
  }

  test("nested scopes hand survivors to the enclosing scope, which releases them") {
    val rdds0 = rdds
    val n = Settle.scope("outer") { _ =>
      val inner = Settle.scope("inner")(st => st.settle(frame(100), "rows"))
      assert((rdds -- rdds0).nonEmpty)
      inner.count()
    }
    assert(n == 100L)
    assert(rdds == rdds0)
  }

  test("an open scope keeps only what its latest body returned; close releases it") {
    val rdds0 = rdds
    val stream = Settle.open("stream")
    val first = stream.within("t1")(st => st.settle(frame(100), "state"))
    val kept1 = rdds -- rdds0
    assert(kept1.size == 1)
    val second = stream.within("t2")(st => st.settle(first.filter(col("id") > 0), "state"))
    val kept2 = rdds -- rdds0
    assert(kept2.size == 1 && kept2 != kept1, s"previous state not released: $kept1 -> $kept2")
    assert(second.count() == 99L)
    stream.close()
    assert(rdds == rdds0)
  }

  test("scopes caching identical plans release only the entry they created") {
    val base = frame()
    val entries0 = entries
    Settle.scope("owner") { st =>
      val a = st.cache(base)
      a.count()
      // a second scope (the e21 regression: concurrent sweep arms
      // caching one plan) sees the entry exists and does not own it
      Settle.scope("borrower") { st2 =>
        st2.cache(base.select("*")).count()
      }
      assert(PlanBridge.cacheEntry(base).isDefined, "borrower released the owner's entry")
      a.count()
    }
    assert(PlanBridge.cacheEntry(base).isEmpty)
    assert(sameEntries(entries, entries0))
  }

  test("a throwing sweep arm leaves no new persistent RDD") {
    val rdds0 = rdds
    val e = intercept[IllegalArgumentException] {
      Settle.scope("sweep") { st =>
        st.sweep(Seq(1, 2, 3, 4)) { x =>
          if (x == 3) throw new IllegalArgumentException("arm 3")
          val nested = Settle.scope("arm")(st2 => st2.settle(frame(200), "nested"))
          st.settle(nested.filter(col("id") % x === 0), s"arm-$x")
        }
      }
    }
    assert(e.getMessage == "arm 3")
    assert(rdds == rdds0)
  }

  test("every job a settle runs carries <label>/<phase>") {
    val seen = ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.synchronized {
        seen += Option(j.properties).map(_.getProperty("spark.job.description")).orNull
      }
    }
    val sc = spark.sparkContext
    val want = Set("labels/eager", "labels/probe", "labels/action", "labels/bounded")
    sc.setJobDescription("outer")
    sc.addSparkListener(listener)
    try {
      Settle.scope("labels") { st =>
        st.settle(frame().groupBy("k").count(), "eager")
        st.settleWith(frame(), "probe")(_.count())
        st.run("action")(frame().count())
        st.collectWithin(frame(), "bounded", 10)
        ()
      }
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.synchronized(!want.subsetOf(seen.toSet)) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally {
      sc.removeSparkListener(listener)
    }
    assert(sc.getLocalProperty("spark.job.description") == "outer", "previous description not restored")
    sc.setJobDescription(null)
    val labels = seen.synchronized(seen.toSet)
    assert(labels == want, s"job descriptions: $labels")
  }

  test("releasing a checkpoint logs no lineage warning and drops the RDD") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("settle-release", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warnings.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    val rdds0 = rdds
    var settled = Set.empty[Int]
    root.addAppender(appender)
    try Settle.scope("release") { st =>
      st.settle(frame(), "rows")
      settled = rdds -- rdds0
    } finally root.removeAppender(appender)
    assert(settled.size == 1)
    assert(rdds == rdds0, "the released checkpoint is still a persistent RDD")
    val lineage = warnings.asScala.filter(_.contains("locally checkpointed"))
    assert(lineage.isEmpty, lineage.mkString("\n"))
  }

  test("collectWithin returns every row up to the bound, in partition order, and None past it") {
    Settle.scope("bounded") { st =>
      val df = frame() // a range: each partition a run of ids
      assert(df.rdd.getNumPartitions > 1)
      assert(st.collectWithin(df, "at", 1000).map(_.map(_.getLong(0)).toSeq) == Some(0L until 1000L))
      assert(st.collectWithin(df, "past", 999).isEmpty)
      assert(st.collectWithin(df.limit(0), "empty", 0).map(_.toSeq) == Some(Nil))
      // partitions of 500, 500, 0 and 1 rows: the first two pass their
      // share of a 1001 bound and send only counts, and a second job
      // fetches them once the total fits
      val skewed = spark.range(0, 1000, 1, 2).union(spark.range(1000, 1001, 1, 2)).toDF()
      assert(st.collectWithin(skewed, "skewed", 1001).map(_.map(_.getLong(0)).toSeq) ==
        Some(0L until 1001L))
      assert(st.collectWithin(skewed, "skewed-past", 1000).isEmpty)
    }
  }

  test("capture records each settled frame's plan from before its checkpoint") {
    val (out, settled) = Settle.capture {
      Settle.scope("captured") { st =>
        st.settle(frame().groupBy("k").agg(max("id").as("m")), "agg")
      }
    }
    assert(settled.map(s => (s.label, s.phase)) == Seq(("captured", "agg")))
    assert(settled.head.plan.toString.contains("Aggregate"))
    assert(!out.queryExecution.optimizedPlan.toString.contains("Aggregate"))
    // outside capture nothing is recorded
    assert(Settle.capture(())._2.isEmpty)
  }

  test("no batch-layer file manages a cache lifetime directly") {
    val direct = """\.persist\(|\.cache\(\)|localCheckpoint\(|\.unpersist\(""".r
    val roots = Seq("operators", "llm", "relational", "streaming")
      .map(d => java.nio.file.Path.of("src/main/scala/graft", d))
    assert(roots.forall(java.nio.file.Files.isDirectory(_)))
    val offenders = roots.flatMap { root =>
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { p =>
      val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if direct.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
