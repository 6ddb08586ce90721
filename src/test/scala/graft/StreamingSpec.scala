package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.functions.{coalesce, col, concat, date_trunc, datediff, explode, lit, max, pmod, posexplode, regexp_extract, size, sum, to_date, unix_micros, unix_timestamp, when}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.graft.CacheEntries
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.{Failed, Outcome, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  /** Leak guard: once its queries have terminated (and the listener
    * bus has delivered their termination), a test leaves no persistent
    * RDD or CacheManager entry behind. */
  override def withFixture(test: NoArgTest): Outcome = {
    val sc = spark.sparkContext
    val (rdds0, entries0) = (sc.getPersistentRDDs.keySet.toSet, CacheEntries(spark))
    super.withFixture(test) match {
      case Succeeded =>
        ListenerBusDrain(sc)
        val rdds = sc.getPersistentRDDs.keySet.toSet -- rdds0
        val entries = CacheEntries(spark).filterNot(e => entries0.exists(_ eq e))
        if (rdds.isEmpty && entries.isEmpty) Succeeded
        else Failed(s"left ${rdds.size} persistent RDDs and ${entries.size} cache entries behind")
      case other => other
    }
  }

  test("S1: streaming windowed agg matches its batch twin") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.windowedCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("s1_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s1_out")
      .orderBy("win_start", "event_type").collect()
    val want = StreamingOps.countsPerWindow(Tables.events(spark, sf))
      .orderBy("win_start", "event_type").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getTimestamp(0) == w.getTimestamp(0))
      assert(g.getString(1) == w.getString(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) < 1e-6)
    }
  }

  test("S3: stateful sessionization matches batch sessions (closed ones)") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.sessionizeStream(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("s3_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s3_out")
      .selectExpr("user_id", "start_s", "n_events", "dur_s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // batch truth: all sessions except each user's LAST (still open in state)
    val batch = relational.Relational.q24Sessionize(spark, sf)
    batch.createOrReplaceTempView("b24")
    val want = spark.sql(
      """SELECT user_id, start_s, n_events, dur_s FROM b24
        |WHERE (user_id, session_id) NOT IN (
        |  SELECT user_id, MAX(session_id) FROM b24 GROUP BY user_id)
        |""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("S18: native streaming session_window emits the watermark-closed batch sessions") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.sessionWindowStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("s18_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s18_out")
      .select("user_id", "start_s", "end_s", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    // the same operator in batch, restricted to sessions the final
    // watermark (max event time - 2h) has closed
    val wmSec = Tables.events(spark, sf)
      .agg(max(unix_timestamp(col("ts")))).head().getLong(0) - 7200
    val want = relational.Relational.q51SessionWindow(spark, sf)
      .filter(col("end_s") < wmSec)
      .select("user_id", "start_s", "end_s", "n_events", "total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got.nonEmpty)
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("S7: streaming heavy hitters equal batch counts (mergeable state)") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.streamingHeavyHitters(stream, "event_type", k = 64, n = 10)
      .writeStream.outputMode("complete")
      .format("memory").queryName("s7_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s7_out")
      .select(explode(col("hh")).as("e"))
      .select(col("e.item"), col("e.cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expect = Tables.events(spark, sf)
      .groupBy("event_type").count()
      .orderBy(col("count").desc, col("event_type"))
      .limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect, s"streaming MG state diverged: $got vs $expect")
  }

  test("S8: streaming incremental dedup matches its batch twin") {
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // the "crawl": every corpus doc re-crawled under a new id — each
    // must come back is_dup with dup_of = its original
    val stream = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean, Long)]
    val q = StreamingOps.streamingIncrementalDedup(
        stream, corpus, "doc_id", "text") { verdicts =>
      got.synchronized {
        got ++= verdicts.select("id", "is_dup", "dup_of").collect()
          .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      }
    }
    q.awaitTermination(180000)
    val batch = corpus.select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    // the twin's scope releases the verdicts it settles once collected
    val expect = Settle.scope("S8/twin") { _ =>
      graft.operators.Dedup
        .incrementalDedup(corpus, batch, "doc_id", "text")
        .select("id", "is_dup", "dup_of").collect()
        .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    }
    assert(got.nonEmpty && got.toSet == expect,
      s"streaming verdicts diverged from batch twin (${got.size} rows)")
    // and the planted truth: every re-crawl is a dup, attributed to its
    // original OR an even smaller natural near-dup of it in the corpus
    assert(got.forall { case (id, dup, of) => dup && of <= id - 5000000L })
  }

  test("S9: streaming curation matches its batch twin on arriving docs") {
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // the "crawl": every corpus doc re-crawled under a new id — each
    // must come back dropped as a dup of its original
    val stream = spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val corpus = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val evalDocs = corpus.filter(col("doc_id") < 20)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Option[String])]
    val q = StreamingOps.streamingCuration(
        stream, corpus, evalDocs, "doc_id", "text") { verdicts =>
      got.synchronized {
        got ++= verdicts.select("id", "keep", "drop_reason").collect()
          .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2))))
      }
    }
    q.awaitTermination(180000)
    val batch = corpus.select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val expect = graft.operators.Curation
      .curate(corpus.union(batch), evalDocs, "doc_id", "text")
      .filter(col("id") >= 5000000L)
      .select("id", "keep", "drop_reason").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSet
    assert(got.nonEmpty && got.toSet == expect,
      s"streaming curation diverged from batch twin (${got.size} rows)")
    // planted truth: every re-crawl is an exact copy → dropped as dup
    assert(got.forall { case (_, keep, reason) =>
      !keep && reason.contains("dup") })
  }

  test("S10: streaming CDC merge equals the batch MERGE (q45 twin)") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))
    val orders = spark.readStream.schema(schema)
      .option("pathGlobFilter", "orders.parquet").parquet(sf)
    val m = col("o_orderkey") % 101
    val ops = orders.filter(m.isin(1, 2, 3)).select(
      when(m === 3, col("o_orderkey") + 20000000L)
        .otherwise(col("o_orderkey")).as("k"),
      when(m === 1, "U").when(m === 2, "D").otherwise("I").as("op"),
      when(m === 1, col("o_totalprice") + 1.0)
        .when(m === 3, col("o_totalprice")).as("price"),
      when(m === 1, col("o_orderpriority"))
        .when(m === 3, lit("5-LOW")).as("priority"))
    val snap0 = Tables.t(spark, sf, "orders").select(
      col("o_orderkey").as("k"), col("o_totalprice").as("price"),
      col("o_orderpriority").as("priority"))
    @volatile var last: Array[(Long, Double, String)] = Array.empty
    val q = StreamingOps.streamingCdcMerge(ops, snap0, "k") { snap =>
      last = snap.select("k", "price", "priority").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    }
    q.awaitTermination(180000)
    val want = relational.Relational.q45MergeUpsert(spark, sf)
      .select("k", "price", "priority").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(last.nonEmpty && last.toSet == want.toSet)
  }

  test("S11: streaming URL frontier dedup matches its batch twin (d13)") {
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // planted url: case + port + tracking-param spelling varies by id,
    // canonical key = doc_id % 13
    def planted(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, "http").otherwise("HTTP"),
        lit("://ex"), (col("doc_id") % 13).cast("string"), lit(".com"),
        when(col("doc_id") % 3 === 0, ":80").otherwise(""),
        lit("/p"),
        when(col("doc_id") % 2 === 0, "?utm_source=s&a=1").otherwise("?a=1"))
        .as("url"))
    // frontier state: ids < 50 already crawled
    val crawled = planted(
      Tables.t(spark, sf, "documents").filter(col("doc_id") < 50))
    val frontier0 = graft.operators.Urls
      .dedupByCanonical(crawled, "doc_id", "url")
      .select(col("canonical_url"), col("keep_id").as("first_id"))
    val stream = planted(spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf))
    val got = scala.collection.mutable
      .ArrayBuffer.empty[(String, Long, Boolean, Long)]
    val q = StreamingOps.streamingUrlFrontier(stream, frontier0,
        "doc_id", "url") { v =>
      got.synchronized {
        got ++= v.select("canonical_url", "id", "seen", "first_id").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      }
    }
    q.awaitTermination(180000)
    // batch twin: full-table canonical dedup joined against frontier0
    val all = graft.operators.Urls.dedupByCanonical(
        planted(Tables.t(spark, sf, "documents")), "doc_id", "url")
      .join(frontier0, Seq("canonical_url"), "left")
      .select(col("canonical_url"), col("keep_id"),
        col("first_id").isNotNull.as("seen"),
        coalesce(col("first_id"), col("keep_id")).as("first_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(got.nonEmpty && got.toSet == all.toSet,
      s"frontier verdicts diverged (${got.size} vs ${all.length})")
    // planted truth: all 13 canonical keys pre-seeded by ids < 50 → seen
    assert(got.forall { case (_, _, seen, firstId) => seen && firstId < 50 })
  }

  test("S41: events older than the watermark are deterministically dropped " +
      "while on-time folds still equal batch (windowed + session twins)") {
    // S18 proves close-ON-watermark; this is its missing half: feed an
    // event 47 HOURS older than the established watermark (at 100 TB
    // ingest, late data is the common case) and prove (a) it is
    // excluded from the emitted fold, (b) everything on-time still
    // equals the batch twin over the on-time subset, and (c) the test
    // is non-vacuous — the late event WOULD have changed the window.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(h: Double) = new java.sql.Timestamp(base + (h * 3600000L).toLong)

    // ---- windowed-aggregate twin (S1's operator, APPEND mode) ----
    val memW = MemoryStream[(java.sql.Timestamp, String, Double)]
    val qw = StreamingOps.windowedCounts(
        memW.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("s41_win").start()
    // trigger 1: three events in window [0h,1h) + one at 50h — after
    // this batch the watermark stands at 48h and window [0h,1h)'s
    // state is closed and evicted
    memW.addData((ts(0.1), "view", 1.0), (ts(0.3), "view", 2.0),
      (ts(0.6), "click", 1.5), (ts(50.2), "view", 1.0))
    qw.processAllAvailable()
    // trigger 2: a LATE view inside [0h,1h) — 47h older than the
    // watermark — plus an on-time click at 51h
    memW.addData((ts(0.5), "view", 9.0), (ts(51.4), "click", 2.0))
    qw.processAllAvailable()
    // trigger 3: flush — moves the watermark to 58h, past every
    // window under test (the flush window itself stays open)
    memW.addData((ts(60.0), "view", 0.5))
    qw.processAllAvailable()
    qw.stop()
    val got = spark.table("s41_win")
      .select("win_start", "event_type", "n", "total_value").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // the late (0.5h, view, 9.0) row must be absent EVERYWHERE: the
    // [0,1) view count is trigger-1's fold, not the 3-event total
    assert(got.contains((ts(0.0), "view", 2L, 3.0)),
      s"window [0,1) view fold wrong: $got")
    assert(!got.exists { case (w, t, n, v) =>
      w == ts(0.0) && t == "view" && (n == 3L || v == 12.0) })
    // and the whole emitted set equals the batch twin over the
    // ON-TIME subset, restricted to watermark-closed windows
    val onTime = Seq((ts(0.1), "view", 1.0), (ts(0.3), "view", 2.0),
      (ts(0.6), "click", 1.5), (ts(50.2), "view", 1.0),
      (ts(51.4), "click", 2.0)).toDF("ts", "event_type", "value")
    val want = StreamingOps.countsPerWindow(onTime).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")

    // ---- native session_window twin (S18's operator) ----
    val memS = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val qs = StreamingOps.sessionWindowStream(
        memS.toDF().toDF("user_id", "ts", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("s41_sess").start()
    // trigger 1: user 7's two-event session at [0h, 0.2h+gap); user 9
    // at 50h pushes the watermark to 48h
    memS.addData((7L, ts(0.0), 1.0), (7L, ts(0.2), 2.0), (9L, ts(50.0), 1.0))
    qs.processAllAvailable()
    // trigger 2: a LATE user-7 event INSIDE the closed session (would
    // raise n_events to 3) + an on-time user-9 event extending 50h
    memS.addData((7L, ts(0.1), 5.0), (9L, ts(50.1), 2.0))
    qs.processAllAvailable()
    // trigger 3: flush to 58h — closes both test sessions
    memS.addData((9L, ts(60.0), 0.5))
    qs.processAllAvailable()
    qs.stop()
    val gotS = spark.table("s41_sess")
      .select("user_id", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user 7's session emits the ON-TIME fold (2 events, 3.0) — the
    // late in-session event is dropped, not merged and not re-emitted
    assert(gotS == Set((7L, 2L, 3.0), (9L, 2L, 3.0)),
      s"sessions: $gotS")
  }

  test("S12: streaming drift monitor folds counts across triggers to match batch x24") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val docs = Tables.t(spark, sf, "documents")
      .select("doc_id", "text", "lang").as[(Long, String, String)]
      .collect().toSeq
    val (first, second) = docs.partition(_._1 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    @volatile var last: Array[(String, Long, Long, Double, Double)] = Array.empty
    var nTriggers = 0
    val q = StreamingOps.streamingTokenDrift(
        mem.toDF().toDF("doc_id", "text", "lang"), "text",
        col("lang") === "en",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      nTriggers += 1
      last = d.select("tok", "c_a", "c_b", "kl_ab_term", "kl_ba_term")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getDouble(4)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    assert(nTriggers >= 2, s"expected 2+ triggers, got $nTriggers")
    val batch = graft.operators.TextAnalysis.tokenDrift(
        docs.toDF("doc_id", "text", "lang"), "text", col("lang") === "en")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"drift state diverged (${last.length} vs ${batch.length})")
  }

  test("S13: streaming MV maintenance folds partials across triggers to match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_totalprice")).limit(600)
      .as[(Long, Double)].collect().toSeq
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    @volatile var last: Array[(Long, Long, Double, Double, Double)] = Array.empty
    val q = StreamingOps.streamingIncrementalMv(
        mem.toDF().toDF("k", "v"), Seq("k"), Tables.dec(col("v")),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.select(col("k"), col("cnt"),
          col("sum_v").cast("double"), col("min_v").cast("double"),
          col("max_v").cast("double"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.Merge.aggPartials(
        rows.toDF("k", "v"), Seq("k"), Tables.dec(col("v")))
      .select(col("k"), col("cnt"), col("sum_v").cast("double"),
        col("min_v").cast("double"), col("max_v").cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"MV state diverged (${last.length} vs ${batch.length})")
  }

  test("S14: streaming histogram quantiles fold cells across triggers to match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .limit(800).as[(String, Double)].collect().toSeq
    val lo = rows.map(_._2).min
    val hi = rows.map(_._2).max
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    @volatile var last: Array[(String, Double, Double, Double, Double)] = Array.empty
    val q = StreamingOps.streamingHistQuantiles(
        mem.toDF().toDF("flag", "price"), "flag", "price", lo, hi,
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.Sketches.histQuantiles(
        graft.operators.Sketches.histCounts(
          rows.toDF("flag", "price"), "flag", "price", lo, hi),
        lo, hi, 4096, Seq(0.25 -> "p25", 0.5 -> "p50",
          0.75 -> "p75", 0.9 -> "p90"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"hist state diverged (${last.length} vs ${batch.length})")
  }

  test("S15: streaming z-order stats fold across triggers to match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_custkey").cast("long"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long"))
      .limit(600).as[(Long, Long)].collect().toSeq
    val (aMn, aMx) = (rows.map(_._1).min, rows.map(_._1).max)
    val (bMn, bMx) = (rows.map(_._2).min, rows.map(_._2).max)
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    @volatile var last: Array[(Long, Long, Long, Long, Long, Long)] = Array.empty
    val q = StreamingOps.streamingZorderStats(
        mem.toDF().toDF("a", "b"), "a", "b", aMn, aMx, bMn, bMx,
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin over everything seen, same pinned extents: layoutStats
    // normalizes from the SAME min/max because rows span them
    val batch = graft.operators.ZOrder.layoutStats(
        rows.toDF("a", "b"), col("a"), col("b"), 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"zorder state diverged (${last.length} vs ${batch.length})")
  }

  test("S15: pinned extents wider than the data normalize by the pin, not the data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.operators.ZOrder
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_custkey").cast("long"),
        datediff(col("o_orderdate"), to_date(lit("1970-01-01"))).cast("long"))
      .limit(600).as[(Long, Long)].collect().toSeq
    // a layout contract wider than anything seen: the data fills only
    // the middle of each pinned dimension
    def widen(xs: Seq[Long]) = (xs.min - (xs.max - xs.min), xs.max + (xs.max - xs.min))
    val (aMn, aMx) = widen(rows.map(_._1))
    val (bMn, bMx) = widen(rows.map(_._2))
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    type Stat = (Long, Long, Long, Long, Long, Long)
    def read(d: org.apache.spark.sql.DataFrame): Set[Stat] =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    @volatile var last: Set[Stat] = Set.empty
    val q = StreamingOps.streamingZorderStats(
        mem.toDF().toDF("a", "b"), "a", "b", aMn, aMx, bMn, bMx,
        trigger = Trigger.ProcessingTime(0L)) { d => last = read(d) }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val all = rows.toDF("a", "b")
    val pinned = read(ZOrder.bucketStats(all, col("a"), col("b"),
      lit(aMn), lit(aMx), lit(bMn), lit(bMx), 6))
    assert(last.nonEmpty && last == pinned,
      s"zorder state diverged from the pinned-extent stats (${last.size} vs ${pinned.size})")
    // non-vacuous: normalizing by the data's own extents buckets differently
    assert(read(ZOrder.layoutStats(all, col("a"), col("b"), 6)) != pinned,
      "the wider pin did not move any bucket — the fixture cannot tell them apart")
  }

  test("S19: streaming OHLC bars fold across triggers to match batch t53") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"),
        unix_timestamp(date_trunc("day", col("ts"))).as("day_s"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .limit(800).as[(Long, Long, Long, Long, Double)].collect().toSeq
    // split BY TIME so later triggers must both extend existing bars
    // (open pinned in trigger 1, close displaced by trigger 2) and
    // open brand-new ones
    val sorted = rows.sortBy(_._3)
    val (first, second) = sorted.splitAt(sorted.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long, Double)]
    @volatile var last: Array[(Long, Long, Double, Double, Double, Double,
      Double, Long)] = Array.empty
    val q = StreamingOps.streamingOhlc(
        mem.toDF().toDF("user_id", "day_s", "us", "event_id", "value"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getLong(7)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    val mid = last
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // some bar must have been EXTENDED (same key, larger tick count)
    val midMap = mid.map(b => (b._1, b._2) -> b._8).toMap
    assert(last.exists(b => midMap.get((b._1, b._2)).exists(_ < b._8)),
      "no bar spanned both triggers — the split didn't exercise the fold")
    // batch twin over everything seen: exact per-key brute bars
    val batch = rows.groupBy(r => (r._1, r._2)).map { case (k, rs) =>
      val s = rs.sortBy(r => (r._3, r._4))
      (k._1, k._2, s.head._5, rs.map(_._5).max, rs.map(_._5).min,
        s.last._5, rs.map(r => math.round(r._5 * 100)).sum / 100.0,
        rs.size.toLong)
    }.toSet
    assert(last.nonEmpty && last.toSet == batch,
      s"ohlc state diverged (${last.length} vs ${batch.size})")
  }

  test("S20: streaming skyline state is the frontier; fold matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "part")
      .select(col("p_brand"), col("p_retailprice"),
        col("p_size").cast("long"), lit(1L), col("p_partkey"))
      .as[(String, Double, Long, Long, Long)].collect().toSeq
    // trigger 1 = the EXPENSIVE half: its frontier must later be
    // displaced by trigger 2's cheaper dominators, and trigger 2 also
    // carries points the standing frontier rejects
    val sorted = rows.sortBy(-_._2)
    val (first, second) = sorted.splitAt(sorted.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long, Long, Long)]
    @volatile var last: Array[(String, Double, Long, Long, Long)] = Array.empty
    val q = StreamingOps.streamingSkyline(
        mem.toDF().toDF("g", "x", "y", "n", "rep"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    val mid = last.toSet
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // displacement really happened: some trigger-1 frontier point is gone
    assert(mid.exists(p => !last.toSet.contains(p)),
      "no frontier point was displaced — the split didn't exercise the fold")
    // batch twin over everything seen
    val d = rows.groupBy(r => (r._1, r._2, r._3)).map { case (k, rs) =>
      (k._1, k._2, k._3, rs.size.toLong, rs.map(_._5).min)
    }.toSeq
    val batch = d.filter { a =>
      !d.exists(b => b._1 == a._1 && b._2 <= a._2 && b._3 >= a._3 &&
        (b._2 < a._2 || b._3 > a._3))
    }.toSet
    assert(last.toSet == batch,
      s"skyline state diverged (${last.length} vs ${batch.size})")
  }

  test("S21: streaming CMS cells fold by addition; estimates match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val toks = (1 to 50).flatMap(i => Seq.fill(i % 7 + 1)(s"w$i"))
    val (first, second) = toks.splitAt(toks.length / 2)
    val probes = Seq("w1", "w10", "w49", "never-seen")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    @volatile var last: Map[String, Long] = Map.empty
    val q = StreamingOps.streamingCountMin(
        mem.toDF().toDF("tok"), probes, seeds = 3, buckets = 64,
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // independent in-process recomputation of the whole sketch over
    // everything seen — same md5-prefix bucket rule
    def md5num(x: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
      .withDefaultValue(0L)
    toks.foreach(t => (0 until 3).foreach { sd =>
      cells((sd, md5num(s"$sd|$t") % 64)) += 1
    })
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .withDefaultValue(0L)
    probes.foreach { p =>
      val want = (0 until 3).map(sd => cells((sd, md5num(s"$sd|$p") % 64))).min
      assert(last(p) == want, s"probe $p: ${last(p)} != $want")
      assert(last(p) >= exact(p), s"probe $p under truth")
    }
  }

  test("S22: streaming transitions stitch batch boundaries to match batch q67") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .limit(900).as[(Long, Long, Long, String)].collect().toSeq
    // split BY TIME: boundary pairs (last of batch 1 → first of batch
    // 2 per user) exist ONLY via the carried state
    val sorted = rows.sortBy(r => (r._2, r._3))
    val (first, second) = sorted.splitAt(sorted.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    @volatile var last: Map[(String, String), Long] = Map.empty
    val q = StreamingOps.streamingTransitions(
        mem.toDF().toDF("user_id", "us", "event_id", "event_type"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    val mid = last
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin over everything seen
    val batch = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val s = rs.sortBy(r => (r._2, r._3)).map(_._4)
      s.zip(s.drop(1))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(last == batch, s"diverged: ${last.size} vs ${batch.size} cells")
    // the boundary stitch really fired: total folded transitions must
    // exceed the two batches' internal pairs alone
    val internal = Seq(first, second).map(_.groupBy(_._1).map { case (_, rs) =>
      math.max(0, rs.size - 1)
    }.sum).sum
    assert(last.values.sum > internal,
      "no boundary transition — the split didn't exercise the carry")
    assert(mid.values.sum < last.values.sum)
  }

  test("S16: streaming interval merge folds islands across triggers to match batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("ss"),
        col("event_id"))
      .limit(800)
      .select(col("user_id"), col("ss"),
        (col("ss") + lit(60L) + pmod(col("event_id"), lit(600L))).as("ee"),
        lit(1L).as("n"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // split by TIME, not arrival order: a mid-island split exercises
    // the state row that a later batch must extend
    val cut = rows.map(_._2).sorted.apply(rows.length / 2)
    val (first, second) = rows.partition(_._2 <= cut)
    assert(first.nonEmpty && second.nonEmpty)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Long)]
    @volatile var last: Array[(Long, Long, Long, Long)] = Array.empty
    val q = StreamingOps.streamingIntervalMerge(
        mem.toDF().toDF("user_id", "ss", "ee", "n"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.Intervals.merge(
        rows.toDF("user_id", "ss", "ee", "n"), "user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"interval state diverged (${last.length} vs ${batch.length})")
    // state really is island-sized: strictly fewer rows than events
    assert(last.length < rows.length)
  }

  test("S23: streaming diversity moments fold across triggers to match batch e13 exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "embeddings")
      .select(col("label"), col("embedding"))
      .limit(300).as[(Int, Array[Float])].collect().toSeq
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Int, Array[Float])]
    @volatile var last: Array[(String, Long, Option[Double])] = Array.empty
    val q = StreamingOps.streamingDiversity(
        mem.toDF().toDF("label", "embedding"), "label", "embedding",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.EmbedStats.diversityByLabel(
        rows.toDF("label", "embedding"), "label", "embedding")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // exact decimal moments → the fold is EXACTLY the batch result,
    // double-for-double, regardless of the split point
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"diversity state diverged (${last.length} vs ${batch.length})")
  }

  test("S30: streaming anisotropy moment fold across triggers matches batch e20 exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .limit(300).as[(Long, Array[Float])].collect().toSeq
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    @volatile var last: Array[(Long, Option[Double], Option[Double])] = Array.empty
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val q = StreamingOps.streamingAnisotropy(
        mem.toDF().toDF("vec_id", "embedding"), "embedding",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), opt(r, 1), opt(r, 2)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    // after trigger 1 the emitted row must equal batch over the prefix
    val prefix = graft.operators.EmbedStats.anisotropy(
        first.toDF("vec_id", "embedding"), "embedding")
      .collect().map(r => (r.getLong(0), opt(r, 1), opt(r, 2)))
    assert(last.toSeq == prefix.toSeq)
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.EmbedStats.anisotropy(
        rows.toDF("vec_id", "embedding"), "embedding")
      .collect().map(r => (r.getLong(0), opt(r, 1), opt(r, 2)))
    // constant-size state (dim+2 decimals), yet the 2-trigger fold is
    // EXACTLY the batch scalar — doubles included
    assert(last.toSeq == batch.toSeq)
  }

  test("S31: streaming cell overlay equals batch q57 survivorship over the whole feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // sparse correction feed: (key, version, name, phone) — each row
    // fixes SOME cells; later versions must win cell-wise, holes must
    // never erase earlier values
    val feed = Seq(
      (1L, 1L, Some("anne"), Some("111")),
      (2L, 1L, Some("bob"), None),
      (1L, 2L, None, Some("222")),       // fixes phone only
      (3L, 2L, Some("carl"), None),      // new key mid-stream
      (2L, 3L, Some("bobby"), Some("333")),
      (1L, 3L, Some("anna"), None))      // fixes name only
    val (b1, b2) = feed.partition(_._2 <= 1) // batches in version order
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Option[String], Option[String])]
    @volatile var last: Array[(Long, Option[String], Option[String])] = Array.empty
    val q = StreamingOps.streamingCellOverlay(
        mem.toDF().toDF("k", "ver", "name", "phone"),
        keys = Seq("k"), orderCol = "ver",
        valueCols = Seq("name", "phone"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0),
        Option(r.getAs[String]("name")), Option(r.getAs[String]("phone"))))
    }
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    // batch truth: q57's latest-non-null-per-cell over the WHOLE feed
    val batch = graft.operators.Merge.goldenRecord(
        feed.toDF("k", "ver", "name", "phone"),
        Seq("k"), "ver", "ver", Seq("name", "phone"))
      .collect().map(r => (r.getLong(0),
        Option(r.getAs[String]("name")), Option(r.getAs[String]("phone"))))
    assert(last.toSet == batch.toSet,
      s"overlay diverged: ${last.toSet} vs ${batch.toSet}")
    // and the cells really interleave: k=1 ends (anna, 222) — name
    // from batch 2, phone surviving from batch 2's OTHER row, base 111
    // overwritten — k=2 ends (bobby, 333), k=3 (carl, None)
    assert(last.toSet == Set((1L, Some("anna"), Some("222")),
      (2L, Some("bobby"), Some("333")), (3L, Some("carl"), None)))
  }

  test("S36: streaming snapshot diff equals the batch full-outer diff against the baseline") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // baseline snapshot at deployment: keys 1..4
    val baseline = Seq((1L, "a1"), (2L, "b1"), (3L, "c1"), (4L, "d1"))
    // CDC feed exercising every transition INCLUDING the nets-to-none
    // cases: k2 changed; k3 deleted; k5 added; k6 added then deleted
    // (net none); k1 changed then reverted to baseline (net none);
    // k4 untouched
    val t1 = Seq((2L, "b2", "U", 1L), (5L, "e1", "U", 2L),
      (6L, "f1", "U", 3L), (1L, "a2", "U", 4L))
    val t2 = Seq((3L, "", "D", 5L), (6L, "", "D", 6L),
      (1L, "a1", "U", 7L)) // revert k1 to its baseline digest
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    @volatile var last: Array[(Long, String)] = Array.empty
    val q = StreamingOps.streamingSnapshotDiff(
        mem.toDF().toDF("k", "dg", "op", "seq"),
        baseline.toDF("k", "dg"),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    mem.addData(t1: _*)
    q.processAllAvailable()
    // mid-stream read: k1 still shows changed (revert hasn't arrived)
    assert(last.toSet == Set((1L, "changed"), (2L, "changed"),
      (5L, "added"), (6L, "added")))
    mem.addData(t2: _*)
    q.processAllAvailable()
    q.stop()
    // batch truth: q43's full-outer digest diff between the baseline
    // and the final applied state
    val finalState = Seq((1L, "a1"), (2L, "b2"), (4L, "d1"), (5L, "e1"))
    val expected = baseline.toDF("k", "dg")
      .join(finalState.toDF("k", "dg_new"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("dg").isNull, "added")
          .when(col("dg_new").isNull, "removed")
          .when(col("dg") =!= col("dg_new"), "changed").as("change"))
      .filter(col("change").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(last.toSet == expected, s"${last.toSet} vs $expected")
    // the nets-to-none transitions really vanished
    assert(!last.exists(r => r._1 == 1L || r._1 == 6L))
    assert(last.toSet == Set((2L, "changed"), (3L, "removed"),
      (5L, "added")))
  }

  test("S32: streaming winnowing overlap equals batch fingerprint-intersection replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val corpus = Seq( // trigger 1: the corpus-so-far
      (1L, "the quick brown fox jumps over the lazy dog while the band plays on"),
      (2L, "colorless green ideas sleep furiously in the garden of forking paths tonight"))
    val batch2 = Seq( // trigger 2: quote / fresh / below-window
      (3L, "he said that the quick brown fox jumps over the lazy dog yesterday evening"),
      (4L, "completely unrelated sentence about winter storms hitting the northern coast again"),
      (5L, "too short to window"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    @volatile var last: Array[(Long, Long, Long)] = Array.empty
    val q = StreamingOps.streamingWinnowOverlap(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    mem.addData(corpus: _*)
    q.processAllAvailable()
    val t1 = last
    // trigger 1: empty index — every doc reports known 0
    assert(t1.map(_._1).toSet == Set(1L, 2L) && t1.forall(_._3 == 0L))
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    // batch truth: per-doc distinct fps intersected with the corpus fp set
    def fpsOf(rows: Seq[(Long, String)]): Map[Long, Set[Long]] =
      graft.operators.TextAnalysis
        .winnow(rows.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val idx = fpsOf(corpus).values.flatten.toSet
    val b2 = fpsOf(batch2)
    val expected = b2.map { case (id, s) =>
      (id, s.size.toLong, (s intersect idx).size.toLong) }.toSet
    assert(last.toSet == expected, s"${last.toSet} vs $expected")
    // the SIGMOD'03 guarantee bites: doc 3 shares a 10-token run with
    // doc 1 (> w+k-1 = 8) so at least one fingerprint MUST be known
    assert(last.find(_._1 == 3L).get._3 >= 1L)
    // fresh doc: zero known; below-window doc: no verdict row at all
    assert(last.find(_._1 == 4L).get._3 == 0L)
    assert(!last.exists(_._1 == 5L))
  }

  test("S40: streaming substring guard equals the batch cross-span relation and d20's restriction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // pool = docs with doc_id % 3 == 0; the crawl: exact copies of
    // pool docs (full-doc span expected), 5-token-prefixed copies of
    // non-pool docs (span only if naturally shared with a pool doc),
    // and reversed-word novels (clean), over two triggers
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val pool = docs.filter(_._1 % 3 == 0).toDF("doc_id", "text")
    val crawl = docs.filter(_._1 % 3 == 0).take(20)
        .map { case (id, t) => (id + 5000000L, t) } ++
      docs.filter(_._1 % 3 == 1).take(20)
        .map { case (id, t) => (id + 6000000L, "qq ww ee rr tt " + t) } ++
      docs.filter(_._1 % 3 == 2).take(20).map { case (id, t) =>
        (id + 7000000L,
          t.trim.toLowerCase.split("\\s+").reverse.mkString(" ")) }
    val (first, second) = crawl.partition(_._1 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    val q = StreamingOps.streamingSubstringGuard(
        mem.toDF().toDF("doc_id", "text"), pool, "doc_id", "text",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      got.synchronized {
        got ++= d.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: the whole crawl at once (pool CLOSED → per-trigger
    // independence); built from the same public kernels
    val poolIdx = operators.Dedup.positionalGrams(pool, "doc_id", "text")
    val crawlIdx = operators.Dedup.positionalGrams(
      crawl.toDF("doc_id", "text"), "doc_id", "text")
    val spans = operators.Dedup.crossSubstringSpans(poolIdx, crawlIdx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val bySpanDoc = spans.groupBy(_._2)
    val expect = crawl.map { case (id, _) =>
      bySpanDoc.get(id) match {
        case None => (id, 0L, 0L, 0L)
        case Some(ss) =>
          // interval union for copied-token count (the operator's
          // contract), recomputed independently here
          val ivs = ss.map(s => (s._4, s._4 + s._5)).sortBy(identity)
          val merged = ivs.foldLeft(List.empty[(Long, Long)]) {
            case (acc, (s, e)) => acc match {
              case (ps, pe) :: t if s <= pe =>
                (ps, math.max(pe, e)) :: t
              case _ => (s, e) :: acc
            }
          }
          (id, ss.size.toLong, ss.map(_._5).max,
            merged.map { case (s, e) => e - s }.sum)
      }
    }.toSet
    assert(got.size == crawl.size && got.toSet == expect,
      s"stream guard diverged (${got.size} rows vs ${expect.size})")
    // planted truth: every exact pool copy is fully covered
    val byId = got.map(r => r._1 -> r).toMap
    docs.filter(_._1 % 3 == 0).take(20).foreach { case (id, t) =>
      val n = t.trim.toLowerCase.split("\\s+").length
      if (n >= 13) {
        val v = byId(id + 5000000L)
        assert(v._3 >= n && v._4 >= n, s"pool copy $id under-covered: $v")
      }
    }
    // and d20 consistency: crossSubstringSpans == exactSubstringSpans
    // over pool ∪ crawl restricted to (pool, crawl) pairs
    val full = Settle.scope("S40/twin") { _ =>
      operators.Dedup.exactSubstringSpans(
          pool.union(crawl.toDF("doc_id", "text")), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .filter(s => s._1 < 5000000L && s._2 >= 5000000L).toSet
    }
    assert(spans.toSet == full, "cross spans diverge from d20's restriction")
  }

  test("S34: streaming leakage guard verdicts equal the batch cross-boundary relation") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // held-out = originals with doc_id % 3 == 0 (fixed pool); the
    // "crawl" = EVERY original re-ID'd +5e6 with the near-dup suffix,
    // split over two triggers — twins of held-out docs must flag,
    // twins of train-only docs must not (unless naturally near a
    // held-out doc, which the batch twin decides)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val heldOut = docs.filter(_._1 % 3 == 0).toDF("doc_id", "text")
    val crawl = docs.map { case (id, t) => (id + 5000000L, t + " zz qq") }
    val (first, second) = crawl.partition(_._1 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Option[Long], Option[Double])]
    val q = StreamingOps.streamingLeakageGuard(
        mem.toDF().toDF("doc_id", "text"), heldOut, "doc_id", "text",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      got.synchronized {
        got ++= d.collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      }
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: the whole crawl at once — equal because the pool is
    // CLOSED (no fold between triggers, nothing arrival-dependent)
    val expect = Settle.scope("S34/twin") { _ =>
      operators.Dedup.leakageVerdicts(
          heldOut, crawl.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    }
    assert(got.size == crawl.size && got.toSet == expect,
      s"stream verdicts diverged (${got.size} rows vs ${expect.size})")
    // planted truth: every held-out twin leaks, attributed to a
    // held-out id (possibly a smaller natural near-dup of it)
    val flagged = got.collect { case (id, true, of, _) => id -> of }.toMap
    docs.map(_._1).filter(_ % 3 == 0).foreach { id =>
      assert(flagged.contains(id + 5000000L), s"held-out twin $id missed")
      assert(flagged(id + 5000000L).exists(_ % 3 == 0))
    }
    assert(got.exists(!_._2), "expected at least one clean train doc")
  }

  test("S37: streaming rolling quantile across time-split triggers equals batch t68, seam rows included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)].collect().toSeq
    // event-time split (the arrival contract): trigger 2's rows all
    // at-or-after trigger 1's — per-user monotone by construction;
    // trigger 2's first rows per user need lags from trigger 1's tail
    val cut = rows.map(_._2).sorted.apply(rows.length / 2)
    val (first, second) = rows.partition(_._2 < cut)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double, Option[Double], Option[Double], Option[Double])]
    val q = StreamingOps.streamingRollingQuantile(
        mem.toDF().toDF("user_id", "es", "event_id", "value")
          .withColumn("ts", col("es").cast("timestamp")),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      got ++= d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    val n1 = got.length
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    assert(n1 > 0 && got.length > n1, "both triggers must emit")
    // batch truth: t68 over the same table — shared rollingQuantiles
    // kernel, so any divergence is a SEAM bug (tail buffer / lag
    // alignment), not a kernel one
    val batch = typesystem.TypeQueries.t68RollingQuantile(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSet
    assert(got.toSet == batch,
      s"rolling-quantile fold diverged (${got.length} vs ${batch.size})")
    // the seam really exercised: some trigger-2 row has non-null
    // quantiles that needed trigger-1 lag values
    val t2NonNull = got.drop(n1).filter(_._5.isDefined)
    assert(t2NonNull.nonEmpty, "no warm seam row in trigger 2")
  }

  test("a sink that throws on the second trigger fails the query, and its state is released") {
    // the leak guard checks the release: the first trigger's settled
    // tails and the failing trigger's cache must all be gone
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    @volatile var triggers = 0
    val q = StreamingOps.streamingRollingQuantile(
        mem.toDF().toDF("user_id", "es", "event_id", "value")
          .withColumn("ts", col("es").cast("timestamp")),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      d.collect()
      triggers += 1
      if (triggers == 2) throw new IllegalStateException("sink failed")
    }
    mem.addData((1L, 0L, 1L, 1.0), (1L, 60L, 2L, 2.0))
    q.processAllAvailable()
    mem.addData((1L, 120L, 3L, 3.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.awaitTermination())
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "sink failed"), e)
    assert(triggers == 2)
  }

  test("S35: streaming autocorr fold across day-closed triggers equals batch t65, doubles included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("value"))
      .as[(Long, Long, Double)].collect().toSeq
    // day-closed split: all events of a calendar day land in one
    // trigger (the arrival contract), first half of the day range
    // first — day-monotone per user by construction
    val days = rows.map(r => Math.floorDiv(r._2, 86400L)).distinct.sorted
    val cut = days(days.length / 2)
    val (first, second) = rows.partition(r => Math.floorDiv(r._2, 86400L) < cut)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)]
    @volatile var last: Array[(Long, Long, Long, Option[Double], Long, Option[Double])] = Array.empty
    var nTriggers = 0
    val q = StreamingOps.streamingAutocorr(
        mem.toDF().toDF("user_id", "es", "value")
          .withColumn("ts", col("es").cast("timestamp")),
        trigger = Trigger.ProcessingTime(0L)) { d =>
      nTriggers += 1
      last = d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    assert(nTriggers >= 2, s"expected 2+ triggers, got $nTriggers")
    val batch = typesystem.TypeQueries.t65Autocorr(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet
    assert(last.nonEmpty && last.toSet == batch, // shared SeriesStats kernel
      s"autocorr fold diverged (${last.length} vs ${batch.size})")
    assert(last.exists(_._4.isDefined) && last.exists(_._6.isDefined))
  }

  test("S33: streaming moment fold across triggers equals batch t61 terminal rows, doubles included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(e => (e._2, e._3))
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    @volatile var last: Array[(Long, Long, Option[Double], Option[Double])] = Array.empty
    val q = StreamingOps.streamingMoments(
        mem.toDF().toDF("user_id", "es", "event_id", "value"),
        "user_id", "value",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch truth: t61's LAST row per user = the full-prefix G1/G2
    val batch = typesystem.TypeQueries.t61ExpandingSkewKurt(spark, sf)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("es").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "n", "exp_skew", "exp_kurt")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    assert(last.toSet == batch, // bit-exact: shared Moments kernels
      s"fold diverged; sample stream=${last.take(2).toSeq} batch=${batch.take(2)}")
  }

  test("S24: streaming Good-Turing count fold across triggers matches batch x35 exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "documents")
      .select(col("text")).limit(200).as[String].collect().toSeq
    val (first, second) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    @volatile var last: Array[(Long, Long, Double, Option[Double])] = Array.empty
    val q = StreamingOps.streamingGoodTuring(
        mem.toDF().toDF("text"), "text",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.TextAnalysis.goodTuring(
        rows.toDF("text"), "text")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // integer count state + identical divisions → exact equality
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"good-turing state diverged (${last.length} vs ${batch.length})")
  }

  test("S25: streaming CDC-chunk dedup flags a later near-copy against the digest index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet")
    var x = 42L
    val s = (0 until 120).map { _ =>
      x = x * 6364136223846793005L + 1442695040888963407L
      words(((x >>> 33) % words.length).toInt)
    }.mkString(" ")
    val fresh = words.reverse.mkString(" ") * 6
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    @volatile var batches = List.empty[Map[Long, (Long, Long, Double)]]
    val q = StreamingOps.streamingCdcDedup(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        trigger = Trigger.ProcessingTime(0L)) { d =>
      batches = batches :+ d.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
    }
    mem.addData(1L -> s)
    q.processAllAvailable()
    mem.addData(2L -> (s + " zz qq"), 3L -> fresh)
    q.processAllAvailable()
    // intra-batch blindness (pinned contract): an original and its
    // exact copy arriving in the SAME trigger are judged against the
    // index as of the PREVIOUS trigger — neither sees the other, so a
    // never-seen text reports 0 for BOTH even though its twin sits in
    // the same batch (same-batch mutual dedup is d17's batch job)
    val unseen = words.map(_.toUpperCase).mkString(" ") * 6
    mem.addData(4L -> unseen, 5L -> unseen)
    q.processAllAvailable()
    q.stop()
    assert(batches.length == 3)
    // first sight of doc 1: nothing known yet
    assert(batches(0)(1L)._2 == 0L)
    val (n2, known2, frac2) = batches(1)(2L)
    // the near-copy shares all but (at most) its tail chunk
    assert(n2 >= 3 && known2 >= n2 - 1, s"near-copy missed: $known2/$n2")
    assert(frac2 > 0.5)
    assert(batches(1)(3L)._2 == 0L) // genuinely new content: nothing known
    // both copies of the never-seen text report 0 known chunks: the
    // verdict is computed against the pre-batch index only
    assert(batches(2)(4L)._2 == 0L && batches(2)(5L)._2 == 0L)
    assert(batches(2)(4L)._3 == 0.0 && batches(2)(5L)._3 == 0.0)
  }

  test("S28: streaming bloom dedup over 2 triggers == batch min-setter verdicts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // 16 bits / 2 hashes saturate on 40 docs → false-positive flags
    // guaranteed, so the fold equality is exercised on every branch;
    // exact dups planted at id+100 land in the SECOND trigger
    // (monotone id order — the documented equality regime)
    val m = 16; val k = 2
    val corpus = (0 until 20).flatMap { i =>
      val t = s"streaming doc number $i about topic ${i % 4}"
      Seq((i.toLong, t), (i + 100L, t))
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    @volatile var got = Map.empty[Long, Boolean]
    val q = StreamingOps.streamingBloomDedup(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        mBits = m, kHash = k, trigger = Trigger.ProcessingTime(0L)) { d =>
      got = got ++ d.collect().map(r => r.getLong(0) -> r.getBoolean(1))
    }
    val rows = corpus.sortBy(_._1)
    val (first, second) = rows.splitAt(rows.length / 2)
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val batch = graft.operators.Dedup.bloomVerdicts(
        corpus.toDF("doc_id", "text").withColumn("source", lit("s")),
        "doc_id", "text", "source", m, k)
      .select("id", "flagged").as[(Long, Boolean)].collect().toMap
    assert(got.size == 40)
    assert(got == batch)
    // every planted exact dup is flagged (no false negatives), and the
    // tiny filter really produced at least one FALSE positive too
    assert((100L until 120L).forall(got(_)))
    assert(got.count { case (id, f) => f && id < 100L } > 0)
  }

  test("S17: streaming top-k heap fold across triggers matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "orders")
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .limit(600).as[(Long, Double, Long)].collect().toSeq
    // split by ORDER KEY so later triggers carry both displacing and
    // non-displacing scores for already-populated heaps
    val (first, second) = rows.partition(_._3 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Double, Long)]
    @volatile var last: Array[(Long, Long, Double, Int)] = Array.empty
    val q = StreamingOps.streamingTopK(
        mem.toDF().toDF("g", "score", "id"), k = 3,
        trigger = Trigger.ProcessingTime(0L)) { d =>
      last = d.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3)))
    }
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: q44's exact shape over everything seen
    import org.apache.spark.sql.graft.ColumnBridge
    val tk = ColumnBridge.column(graft.expressions.TopKAgg(
      ColumnBridge.expression(col("score")),
      ColumnBridge.expression(col("id")), 3).toAggregateExpression())
    val batch = rows.toDF("g", "score", "id")
      .groupBy("g").agg(tk.as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("g"), col("e.id"), col("e.score"),
        (col("pos") + 1).cast("int"))
      .as[(Long, Long, Double, Int)].collect()
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"top-k state diverged (${last.length} vs ${batch.length})")
  }

  test("S26: streaming mixing-plan fold across triggers matches the batch solver") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "documents")
      .select(col("source"), col("text")).limit(300)
      .as[(String, String)].collect().toSeq
    // split so several sources span BOTH triggers (their avail must fold)
    val (first, second) = rows.zipWithIndex.partition(_._2 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    type PlanRow = (String, Long, Long, Long, Long, Double, Boolean)
    def read(d: org.apache.spark.sql.DataFrame): Array[PlanRow] =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    @volatile var last: Array[PlanRow] = Array.empty
    val q = StreamingOps.streamingMixingPlan(
        mem.toDF().toDF("source", "text"), "text", "source",
        trigger = Trigger.ProcessingTime(0L)) { d => last = read(d) }
    mem.addData(first.map(_._1): _*)
    q.processAllAvailable()
    mem.addData(second.map(_._1): _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: the same availability table over everything seen
    val batch = read(graft.operators.Sampling.mixingPlan(
      rows.toDF("source", "text")
        .select(col("source"),
          size(graft.operators.TextAnalysis.tokens(col("text")))
            .cast("long").as("n_tokens"))
        .groupBy("source").agg(sum("n_tokens").as("avail"))
        .withColumn("u",
          regexp_extract(col("source"), "(\\d+)", 1).cast("long") % 4 + 1)))
    // integer fold state + integral-division solver → exact equality
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"mixing plan diverged (${last.length} vs ${batch.length})")
    assert(last.exists(_._7), "no binding source flagged")
  }

  test("S29: streaming MATTR-mass fold across triggers matches batch exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "documents")
      .select(col("source"), col("text")).limit(300)
      .as[(String, String)].collect().toSeq
    // split so every source's windows span BOTH triggers — the ratio
    // must come from the FOLDED integer partials, not either batch
    val (first, second) = rows.zipWithIndex.partition(_._2 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    type MRow = (String, Long, Long, Long, Long, Double)
    def read(d: org.apache.spark.sql.DataFrame): Array[MRow] =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    @volatile var last: Array[MRow] = Array.empty
    val q = StreamingOps.streamingMattr(
        mem.toDF().toDF("source", "text"), "text", "source",
        trigger = Trigger.ProcessingTime(0L)) { d => last = read(d) }
    mem.addData(first.map(_._1): _*)
    q.processAllAvailable()
    mem.addData(second.map(_._1): _*)
    q.processAllAvailable()
    q.stop()
    val batch = read(graft.operators.TextAnalysis.mattrMassFromPartials(
      graft.operators.TextAnalysis.mattrPartials(
        rows.toDF("source", "text"), "source", "text")))
    // additive int64 partials + one terminal division → exact equality
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"mattr mass diverged (${last.length} vs ${batch.length})")
    assert(last.forall(r => r._6 > 0.0 && r._6 <= 1.0))
  }

  test("S27: streaming Zipf count fold across triggers matches batch x38 exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val rows = Tables.t(spark, sf, "documents")
      .select(col("source"), col("text")).limit(300)
      .as[(String, String)].collect().toSeq
    // split so every source's counts span BOTH triggers (ranks must
    // come from the FOLDED table, not either batch alone)
    val (first, second) = rows.zipWithIndex.partition(_._2 % 2 == 0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    type FitRow = (String, Long, Long, Double, Double)
    def read(d: org.apache.spark.sql.DataFrame): Array[FitRow] =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    @volatile var last: Array[FitRow] = Array.empty
    val q = StreamingOps.streamingZipf(
        mem.toDF().toDF("source", "text"), "text", "source",
        trigger = Trigger.ProcessingTime(0L)) { d => last = read(d) }
    mem.addData(first.map(_._1): _*)
    q.processAllAvailable()
    mem.addData(second.map(_._1): _*)
    q.processAllAvailable()
    q.stop()
    // batch twin: the x38 fit over everything seen
    val batch = read(graft.operators.TextAnalysis.zipfFromCounts(
      rows.toDF("source", "text")
        .select(col("source"),
          explode(graft.operators.TextAnalysis.tokens(col("text")))
            .as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))))
    // integer count state + integer-micros regression → exact equality
    assert(last.nonEmpty && last.toSet == batch.toSet,
      s"zipf fit diverged (${last.length} vs ${batch.length})")
    assert(batch.forall(r => r._4 < 0.0),
      "every source's fitted slope should be negative")
  }

  test("S2: streaming dedup emits each event_id once") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.streamingDedup(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("s2_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.table("s2_out").count()
    val distinct = spark.table("s2_out").select("event_id").distinct().count()
    assert(n > 0 && n == distinct)
  }
}

class StreamStaticJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("S4: stream-static broadcast enrichment matches its batch twin") {
    val dim = Tables.t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.enrichedSegmentCounts(stream, dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("s4_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s4_out")
      .orderBy("win_start", "c_mktsegment").collect()
    val want = StreamingOps.segmentCountsPerWindow(Tables.events(spark, sf), dim)
      .orderBy("win_start", "c_mktsegment").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getTimestamp(0) == w.getTimestamp(0))
      assert(g.getString(1) == w.getString(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(math.abs(g.getDouble(3) - w.getDouble(3)) < 1e-6)
    }
  }
}

class QuantileSketchSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  test("t-digest approx percentiles track the exact order statistics") {
    val li = Tables.t(spark, sf, "lineitem")
    val approx = li.groupBy("l_returnflag")
      .agg(approx_percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)), lit(5000)).as("ap"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val exact = relational.Relational.q32Quantiles(spark, sf)
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    exact.foreach { case (flag, ex) =>
      approx(flag).zip(ex).foreach { case (a, e) =>
        assert(math.abs(a - e) / math.max(math.abs(e), 1.0) < 0.02,
          s"$flag: approx $a vs exact $e")
      }
    }
  }
}

class StreamStreamJoinSpec extends AnyFunSuite {
  import TestSpark._

  test("S5: stream-stream interval join matches its batch twin") {
    val stream = StreamingOps.readEventsStream(spark, sf)
    val q = StreamingOps.conversionJoin(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("s5_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("s5_out")
      .select("user_id", "purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (views, purchases) = StreamingOps.conversionSides(Tables.events(spark, sf))
    val want = StreamingOps.conversionPairs(views, purchases)
      .select("user_id", "purchase_id", "view_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(want.nonEmpty)
    assert(got == want)
  }
}

class StreamSinkSpec extends AnyFunSuite {
  import TestSpark._

  test("S6: parquet sink + checkpoint is exactly-once across restarts") {
    val out = java.nio.file.Files.createTempDirectory("graft_s6_out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft_s6_chk").toString
    def runOnce(): Unit = {
      val q = StreamingOps.readEventsStream(spark, sf)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val expected = Tables.events(spark, sf).count()
    assert(spark.read.parquet(out).count() == expected)
    // second start from the same checkpoint: source exhausted, no
    // duplicate output — the exactly-once resume contract
    runOnce()
    assert(spark.read.parquet(out).count() == expected)
  }
}

class ThetaSketchSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._
  import graft.operators.Sketches._

  test("theta estimates track exact distinct / union / intersection") {
    val docs = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("d"))
    val a = docs.filter(col("doc_id") < 350)
    val b = docs.filter(col("doc_id") >= 150)
    val exactA = a.select("d").distinct().count().toDouble
    val exactB = b.select("d").distinct().count().toDouble
    val exactU = a.select("d").union(b.select("d")).distinct().count().toDouble
    val exactI = a.select("d").intersect(b.select("d")).count().toDouble
    val r = a.agg(thetaSketch(col("d")).as("ska"))
      .crossJoin(b.agg(thetaSketch(col("d")).as("skb")))
      .select(thetaEstimate(col("ska")).as("ea"),
        thetaEstimate(col("skb")).as("eb"),
        thetaEstimate(thetaUnion(col("ska"), col("skb"))).as("eu"),
        thetaIntersect(col("ska"), col("skb")).as("ei"))
      .head()
    // sets smaller than k=1024 are EXACT in a KMV sketch
    assert(r.getDouble(0) == exactA)
    assert(r.getDouble(1) == exactB)
    assert(r.getDouble(2) == exactU)
    assert(r.getDouble(3) == exactI)
  }

  test("above-k estimates stay within 10% (merge across partitions)") {
    import spark.implicits._
    // 30k distinct values in 8 partitions, k=512 → genuine estimation
    val df = spark.range(0, 30000, 1, 8).toDF("v")
    val est = df.agg(thetaSketch(concat(lit("x"), col("v")), k = 512).as("sk"))
      .select(thetaEstimate(col("sk"))).as[Double].head()
    assert(math.abs(est - 30000) / 30000 < 0.10, s"estimate $est")
    // two overlapping ranges: intersection error within 15% of truth
    val s1 = spark.range(0, 20000).toDF("v")
      .agg(thetaSketch(concat(lit("x"), col("v")), k = 512).as("sk"))
    val s2 = spark.range(10000, 30000).toDF("v")
      .agg(thetaSketch(concat(lit("x"), col("v")), k = 512).as("sk"))
    val ei = s1.crossJoin(s2.withColumnRenamed("sk", "sk2"))
      .select(thetaIntersect(col("sk"), col("sk2"))).as[Double].head()
    assert(math.abs(ei - 10000) / 10000 < 0.15, s"intersect estimate $ei")
  }
}

class VectorMeanSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("mean-pool merges across partitions and equals the explicit mean") {
    val df = spark.range(0, 10000, 1, 16).toDF("i")
      .select((col("i") % 4).cast("int").as("g"),
        array(col("i").cast("double"), lit(1.0), (col("i") * 2).cast("double")).as("v"))
    val got = df.groupBy("g").agg(operators.VectorOps.meanPool(col("v")).as("m"))
      .select(col("g"), element_at(col("m"), 1), element_at(col("m"), 2),
        element_at(col("m"), 3))
      .as[(Int, Double, Double, Double)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val want = df.select(col("g"), element_at(col("v"), 1).as("a"),
        element_at(col("v"), 2).as("b"), element_at(col("v"), 3).as("c"))
      .groupBy("g").agg(avg("a"), avg("b"), avg("c"))
      .as[(Int, Double, Double, Double)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    got.foreach { case (g, (a, b, c)) =>
      val (wa, wb, wc) = want(g)
      assert(math.abs(a - wa) < 1e-9 && math.abs(b - wb) < 1e-9 &&
        math.abs(c - wc) < 1e-9, s"group $g")
    }
  }

  test("mean-pool of all-null input is null") {
    val df = Seq.fill(3)(Option.empty[Array[Double]]).toDF("v")
    val r = df.agg(operators.VectorOps.meanPool(col("v")).as("m")).head()
    assert(r.isNullAt(0))
  }
}
