package graft.streaming

import java.util.UUID
import graft.Settle
import graft.operators.{Moments, Sampling, SeriesStats, Sketches, TextAnalysis, ZOrder}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the events table consumed as an
  * unbounded stream (file source here; Kafka/queue in production — the
  * transform graph is source-agnostic).
  *
  * Scale posture: watermarks bound state; windowed aggregation state is
  * per (window × event_type); dedup state is bounded by the watermark
  * horizon. Both survive arbitrarily long streams.
  *
  * A fold whose batch twin is a registered query builds its per-batch
  * partial through the same `graft.operators` definition as that
  * query and keeps only its merge step and its state here. */
object StreamingOps {

  /** The relations one trigger of a `foreachBatch` fold hands the next. */
  private type State = Seq[DataFrame]

  /** Every `foreachBatch` operator runs through here, and a stream-
    * lifetime [[Settle]] scope labelled `label` owns all it caches.
    * `init` settles what the query needs before its first trigger (an
    * initial state, a fixed pool index) at construction. Each trigger
    * runs `step(st, prev, batch)` in the child scope `<label>/trigger`
    * and hands its output to `sink` there, so trigger-scoped caches go
    * when the trigger ends; the returned state passes to the stream
    * scope, which then releases the previous state. One
    * StreamingQueryListener closes the stream scope when the query
    * terminates — exhausted, stopped or failed. Registered before
    * `start()` and armed with the run id after it, the listener keeps
    * the ids that terminated in between, so no termination is missed.
    *
    * With `stateDir` the state also snapshots every trigger and a
    * restarted query restores it ([[SnapshotState]]); `checkpointDir`
    * checkpoints the source offsets. */
  private def foldStream(label: String, input: DataFrame,
      trigger: Trigger = Trigger.AvailableNow(),
      stateDir: Option[String] = None, checkpointDir: Option[String] = None,
      init: Settle.Scope => State = _ => Nil)(
      step: (Settle.Scope, State, DataFrame) => (State, DataFrame))(
      sink: DataFrame => Unit): StreamingQuery = {
    val spark = input.sparkSession
    val stream = Settle.open(label)
    final class Closer extends StreamingQueryListener {
      private var runId: Option[UUID] = None
      private val ended = new java.util.HashSet[UUID]()
      def arm(id: UUID): Unit = synchronized {
        if (ended.contains(id)) close() else runId = Some(id)
      }
      def close(): Unit = {
        stream.close()
        spark.streams.removeListener(this)
      }
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
        ended.add(e.runId)
        if (runId.contains(e.runId)) close()
      }
    }
    val closer = new Closer
    spark.streams.addListener(closer)
    try {
      var state = stream.within(s"$label/init")(init)
      val writer = input.writeStream
        .foreachBatch { (b: Dataset[Row], batchId: Long) =>
          val bs = b.sparkSession
          val prev = if (state.nonEmpty) state
            else stateDir.flatMap(SnapshotState.restore(bs, _, batchId)).getOrElse(Nil)
          state = stream.within(s"$label/trigger") { st =>
            val (next, out) = step(st, prev, b)
            stateDir.foreach(SnapshotState.commit(bs, _, batchId, next))
            sink(out)
            next
          }
        }
        .trigger(trigger)
      checkpointDir.foreach(d => writer.option("checkpointLocation", d))
      val q = writer.start()
      closer.arm(q.runId)
      q
    } catch {
      case t: Throwable => closer.close(); throw t
    }
  }

  /** Durable snapshots of a fold's state, for the operators that take
    * a `stateDir`: each trigger writes its state's relations under
    * `state_batch=<batchId>/<i>`, and a restarted query restores the
    * newest snapshot with id < batchId.
    *
    * `< batchId` (not <=) is what makes the replayed trigger
    * idempotent: after a crash, Structured Streaming re-runs the last
    * uncommitted batch with the SAME id and data (checkpointed
    * offsets), and the fold re-derives from snapshot id−1 + that
    * batch, overwriting snapshot id with identical content. A partial
    * snapshot from a crash mid-write is never read, because the
    * snapshot write happens BEFORE the trigger's offset commit — an
    * incomplete snapshot id implies offset id never committed, so the
    * restart replays id and overwrites it. */
  private[streaming] object SnapshotState {
    private val Prefix = "state_batch="

    private def snapshots(bs: SparkSession, dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(bs.sparkContext.hadoopConfiguration)
      val ids =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).toSeq.map(_.getPath)
          .filter(_.getName.startsWith(Prefix))
          .map(s => s -> s.getName.stripPrefix(Prefix).toLong)
      (fs, ids)
    }

    /** Newest committed snapshot with id < batchId, if any. */
    def restore(bs: SparkSession, dir: String, batchId: Long): Option[State] = {
      val (fs, ids) = snapshots(bs, dir)
      ids.filter(_._2 < batchId).maxByOption(_._2).map { case (base, _) =>
        fs.listStatus(base).toSeq.map(_.getPath.getName).filter(_.forall(_.isDigit))
          .sortBy(_.toInt).map(i => bs.read.parquet(s"$base/$i"))
      }
    }

    /** Write snapshot `batchId` and prune ids < batchId−1: recovery
      * only ever reads the newest snapshot and its crash-replay anchor,
      * and anything older would grow the state dir without bound. The
      * state itself is settled, so its lineage ends at its own blocks
      * and never reads a snapshot a later prune deletes. */
    def commit(bs: SparkSession, dir: String, batchId: Long, state: State): Unit = {
      state.zipWithIndex.foreach { case (df, i) =>
        df.write.mode("overwrite").parquet(s"$dir/$Prefix$batchId/$i")
      }
      val (fs, ids) = snapshots(bs, dir)
      ids.filter(_._2 < batchId - 1).foreach(s => fs.delete(s._1, true))
    }
  }

  /** Folds the additive partial `p` into the previous state: the
    * union, then every non-key column summed per key. The partials
    * these folds keep are integer or decimal sums, so the fold is
    * exact and order-free. */
  private def addTo(prev: Option[DataFrame], p: DataFrame,
      keys: String*): DataFrame = prev.fold(p) { s =>
    val sums = p.columns.toSeq.filterNot(keys.contains).map(c => sum(c).as(c))
    s.unionByName(p).groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** The known-fraction verdict of the index-matching folds (S25,
    * S32): per doc of the (`idCol`, `keyCol`) items, its item count
    * `nName`, how many of its keys the index `prev` — as of the
    * previous trigger — already holds, and that fraction rounded to
    * 6 dp; with the index grown by the items' keys, to settle as the
    * next state. */
  private def knownFraction(prev: Option[DataFrame], items: DataFrame,
      idCol: String, keyCol: String, nName: String): (DataFrame, DataFrame) = {
    val known = prev match {
      case Some(idx) => items.join(idx, Seq(keyCol), "left_semi")
        .groupBy(idCol).agg(count(lit(1)).as("n_known"))
      case None => items.select(col(idCol)).limit(0)
        .withColumn("n_known", lit(0L))
    }
    val nKnown = coalesce(col("n_known"), lit(0L))
    val verdicts = items.groupBy(idCol).agg(count(lit(1)).as(nName))
      .join(known, Seq(idCol), "left")
      .select(col(idCol).as("doc_id"), col(nName), nKnown.as("n_known"),
        round(nKnown / col(nName), 6).as("known_frac"))
    val keys = items.select(keyCol)
    (verdicts, prev.fold(keys)(_.union(keys)).distinct())
  }

  /** The events parquet schema as written by the generator (nanosecond
    * timestamps are read as raw longs — see Tables.events). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over an events directory, ts normalized.
    * The file's physical ts type differs across generator versions
    * (TIMESTAMP(NANOS) read as long vs plain TIMESTAMP(MICROS)) — probe
    * it with a batch schema read and adapt, mirroring `Tables.events`.
    * Integer `div`, not `/`: ns magnitudes exceed double's mantissa. */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val phys = spark.read
      .option("pathGlobFilter", "events.parquet").parquet(dir).schema
    val raw = spark.readStream
      .schema(phys)
      .option("pathGlobFilter", "events.parquet") // file source needs a dir
      .parquet(dir)
    phys("ts").dataType match {
      case TimestampType => raw
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** S1: watermarked tumbling-window aggregation per event type — the
    * watermark over [[countsPerWindow]]. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    countsPerWindow(events.withWatermark("ts", watermark), window_)

  /** Events and value totals per tumbling window and event type: the
    * body S1 streams and its batch equivalence checks run. */
  def countsPerWindow(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** S18: q51's sessions through Spark's NATIVE session_window
    * aggregate IN A STREAM — the engine itself carries the merge as
    * per-OPEN-session state (closed sessions emit once the watermark
    * passes their end; state never grows with history), the
    * streaming-capable form q51's batch run promises and S3's
    * hand-rolled flatMapGroupsWithState mirrors. The watermark over
    * q51's body [[graft.operators.SeriesStats.sessionTotals]], so
    * emitted rows compare 1:1 with the batch twin restricted to
    * watermark-closed sessions. */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    SeriesStats.sessionTotals(events.withWatermark("ts", watermark), gap)

  /** S2: streaming exact dedup on event_id within the watermark horizon
    * (bounded state: ids older than the watermark are evicted). */
  def streamingDedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** One raw event for stateful processing. */
  final case class SessEvent(user_id: Long, es: Long, event_id: Long)
  /** Per-user open-session state carried across triggers. */
  final case class OpenSession(start: Long, last: Long, n: Long)
  /** A closed (gap-terminated) session. */
  final case class ClosedSession(user_id: Long, start_s: Long, n_events: Long, dur_s: Long)

  /** S3: stateful gap-based sessionization with
    * `flatMapGroupsWithState` — closed sessions are emitted as soon as
    * a later event exceeds the gap; each user's trailing open session
    * stays in state (bounded: one OpenSession per active user) until a
    * later trigger closes it. */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      gapSec: Long = 1800): org.apache.spark.sql.Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val ev = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("es"), col("event_id"))
      .as[SessEvent]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[OpenSession]) =>
          val sorted = it.toSeq.sortBy(e => (e.es, e.event_id))
          var cur = state.getOption
          val out = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.es - s.last <= gapSec =>
                cur = Some(s.copy(last = e.es, n = s.n + 1))
              case Some(s) =>
                out += ClosedSession(uid, s.start, s.n, s.last - s.start)
                cur = Some(OpenSession(e.es, e.es, 1))
              case None =>
                cur = Some(OpenSession(e.es, e.es, 1))
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** S4: stream-static enrichment join — the static dimension is
    * BROADCAST to every micro-batch task (no stream-stream state, no
    * watermark needed for the join itself); counts roll up per segment
    * window. The canonical "enrich events with a dimension table" shape
    * at any scale: only the aggregation keeps state. The watermark over
    * [[segmentCountsPerWindow]]. */
  def enrichedSegmentCounts(events: DataFrame, dim: DataFrame,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    segmentCountsPerWindow(events.withWatermark("ts", watermark), dim, window_)

  /** Events joined to the broadcast customer dimension, counted and
    * value-totalled per tumbling window and market segment: the body
    * S4 streams and its batch equivalence checks run. */
  def segmentCountsPerWindow(events: DataFrame, dim: DataFrame,
      window_ : String = "1 hour"): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), window_), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("c_mktsegment"),
        col("n"), col("total_value"))

  /** S5: stream-stream interval join — each purchase joined to the same
    * user's views in the preceding hour (conversion attribution). Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark evicts join state once the watermark passes:
    * state is O(events in the interval horizon), not O(stream). Each
    * side gets its own watermark over [[conversionPairs]]: one
    * watermark on the events' `ts` would sit above the event-type
    * filters, so each side's would track every event's time, not its
    * own, and drop rows the per-side watermarks keep. */
  def conversionJoin(events: DataFrame, intervalSql: String = "INTERVAL 1 HOUR",
      watermark: String = "2 hours"): DataFrame = {
    val (views, purchases) = conversionSides(events)
    conversionPairs(views.withWatermark("v_ts", watermark),
      purchases.withWatermark("p_ts", watermark), intervalSql)
  }

  /** S5's sides: the view events (v_user, v_ts, view_id) and the
    * purchase events (p_user, p_ts, purchase_id). */
  def conversionSides(events: DataFrame): (DataFrame, DataFrame) = (
    events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id")),
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id")))

  /** Each purchase paired with the same user's views in the preceding
    * `intervalSql`: the body S5 streams and its batch equivalence
    * checks run. */
  def conversionPairs(views: DataFrame, purchases: DataFrame,
      intervalSql: String = "INTERVAL 1 HOUR"): DataFrame =
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(intervalSql))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))

  /** S7: streaming heavy hitters — the Misra-Gries summary as global
    * streaming state. Works BECAUSE the aggregate is mergeable: each
    * micro-batch's partials merge into the k-counter state exactly as
    * executor partials do in batch, so unbounded streams keep O(k)
    * state (complete output mode re-emits the current top-n per
    * trigger). Returns one row with the array<struct<item,cnt>>. */
  def streamingHeavyHitters(rows: DataFrame, itemCol: String,
      k: Int, n: Int): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    rows.agg(ColumnBridge.column(
      graft.expressions.FreqItemsAgg(
        ColumnBridge.expression(col(itemCol)), k, n)
        .toAggregateExpression()).as("hh"))
  }

  /** S8: continuous-crawl dedup — the streaming form of d9. Each
    * micro-batch of newly crawled documents is matched against the
    * stored corpus LSH index (plus itself, smaller-id-first) via
    * `foreachBatch` → [[graft.operators.Dedup.incrementalDedup]], and
    * the per-doc verdicts go to `sink`. The corpus side is the static
    * stored index; a production deployment appends each processed
    * batch's (band, key, id, shingles) rows to that store between
    * triggers so later crawls also dedup against earlier ones — the
    * operator itself is already index-shaped, the append is a plain
    * parquet write. foreachBatch (not a stream-static join) because the
    * verdict is a multi-stage job — explode, index join, exact verify,
    * per-doc aggregate — not a row-wise enrichment. */
  def streamingIncrementalDedup(docs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String)(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S8", docs) { (_, _, b) =>
      (Nil, graft.operators.Dedup.incrementalDedup(corpus, b, idCol, textCol))
    }(sink)

  /** S34: streaming leakage guard — p7's live half. The held-out
    * (eval) set is FIXED at deployment; its LSH band index + shingle
    * sets are the only state — test-set-sized and CONSTANT forever,
    * the one index-matching twin whose state never grows even
    * logically (S8/S25/S32's indexes fold each batch in; this pool is
    * closed by definition, so there is nothing to fold). Every
    * arriving train-candidate doc is flagged BEFORE it enters the
    * training corpus if any held-out doc sits within Jaccard τ
    * ([[graft.operators.Dedup.leakageVerdicts]] per micro-batch) —
    * the live read: a re-crawl of a benchmark page, a paraphrased
    * eval question, flagged at ingest instead of surfacing as an
    * inflated eval score three weeks after the training run. No
    * intra-batch caveat: the leakage relation is train×test only, so
    * same-trigger train docs are correctly invisible to each other.
    * Per trigger: the batch explodes its own bands into one equi-join
    * against the fixed index + the exact verify on survivors —
    * batch-proportional work, never corpus-proportional. The pool
    * index is cached once for the stream's lifetime (every trigger
    * probes the same cache), the batch's index for its trigger. */
  def streamingLeakageGuard(docs: DataFrame, heldOut: DataFrame,
      idCol: String, textCol: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S34", docs, trigger, init = st =>
        Seq(st.cache(graft.operators.Dedup.leakageIndex(heldOut, idCol, textCol)))) {
      (st, pool, b) =>
        val batchIdx = st.cache(graft.operators.Dedup.leakageIndex(b, idCol, textCol))
        (pool, graft.operators.Dedup.leakageVerdictsIndexed(pool.head, batchIdx))
    }(sink)

  /** S40: streaming exact-substring guard — d20's live half and S34's
    * positional sibling: each arriving doc is checked for MAXIMAL
    * exact token overlaps ≥ `minLen` against a FIXED reference pool
    * (the deployment corpus / eval set), via
    * [[graft.operators.Dedup.crossSubstringSpans]] over the pool's
    * positional-gram index, built and cached ONCE for the stream's
    * lifetime. Where S34 answers "is this doc a near-dup of the pool"
    * (set similarity), S40 answers "WHICH exact spans does it copy
    * and from where" — the contamination-span / quotation read.
    *
    * Emits one verdict row per batch doc per trigger: (id, n_spans,
    * max_span, n_copied_tokens) with zeros for clean docs —
    * n_copied_tokens is the UNION of the doc's span intervals
    * ([[graft.operators.Intervals.merge]], d21's device), so
    * overlapping matches from different pool partners never
    * double-count. Stateless across triggers (the pool is closed;
    * batches judge independently), so recovery is trivial — replayed
    * triggers recompute identical verdicts. */
  def streamingSubstringGuard(docs: DataFrame, pool: DataFrame,
      idCol: String, textCol: String, minLen: Int = 13,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S40", docs, trigger, init = st =>
        Seq(st.cache(graft.operators.Dedup.positionalGrams(pool, idCol, textCol, minLen)))) {
      (st, poolIdx, batch) =>
        val batchIdx = st.cache(graft.operators.Dedup
          .positionalGrams(batch, idCol, textCol, minLen))
        val spans = graft.operators.Dedup
          .crossSubstringSpans(poolIdx.head, batchIdx, minLen)
        val merged = graft.operators.Intervals.merge(
          spans.select(col("id_b").as("id"), col("start_b").as("ss"),
            (col("start_b") + col("span_tokens")).as("ee"),
            lit(1L).as("n")),
          keyCol = "id")
        val perDoc = spans.groupBy(col("id_b").as("id"))
          .agg(count(lit(1)).as("n_spans"),
            max(col("span_tokens")).as("max_span"))
          .join(merged.groupBy("id")
            .agg(sum(col("m_end") - col("m_start"))
              .as("n_copied_tokens")), Seq("id"))
        (poolIdx, batch
          .select(col(idCol).cast("long").as("id"))
          .join(perDoc, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("max_span"), lit(0L)).as("max_span"),
            coalesce(col("n_copied_tokens"), lit(0L))
              .as("n_copied_tokens")))
    }(sink)

  /** S35: streaming autocorrelation monitor — t65's live half. State
    * per user is the five exact Pearson sums per lag (DECIMAL(38,0),
    * additive) plus the last SEVEN (day, x) observations — the
    * boundary buffer that lets a new day pair with its lag-1/lag-7
    * partners across the trigger seam — so state is CONSTANT per key
    * forever (≤ 7 tail rows + 1 sums row), independent of stream
    * length. Each trigger: the batch's events collapse to daily
    * totals, the union tail∪batch computes lag pairs ONLY for rows
    * the batch contributed (old-tail pairs were counted when THEY
    * were new), the pair-sum increments fold into state by column
    * addition, and the corpus-so-far lag-1/lag-7 autocorrelation
    * re-derives through the SAME [[graft.operators.SeriesStats]]
    * daily totals, lags, pair sums and Pearson read as batch t65 — so
    * the fold equals the batch answer by construction, doubles
    * included. Arrival contract (the daily-
    * ingest shape): triggers are DAY-CLOSED and day-monotone per user
    * — a calendar day never spans two triggers; within a trigger any
    * order is fine (the daily groupBy is order-free). The live read:
    * a user's lag-1 autocorrelation collapsing mid-stream means the
    * daily pattern broke — a bot burst, a fee change, an
    * instrumentation bug — paged without re-reading history.
    *
    * `stateDir` + `checkpointDir` make the query KILLABLE exactly as
    * [[streamingIncrementalMv]]'s: both state relations (tails AND
    * sums) snapshot per trigger under one `state_batch=` dir, restore
    * picks the newest id < the replayed batch, stale snapshots prune
    * — StreamingRecoverySpec kills this query mid-feed with seam rows
    * crossing the kill point and proves the resumed fold equals the
    * uninterrupted batch answer. */
  def streamingAutocorr(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow(),
      stateDir: Option[String] = None,
      checkpointDir: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    foldStream("S35", rows, trigger, stateDir, checkpointDir) { (st, prev, b) =>
      val daily = SeriesStats.dailyCents(b)
      val u = st.cache(prev match {
        case Seq(tails, _) => tails.withColumn("is_new", lit(false))
          .unionByName(daily.withColumn("is_new", lit(true)))
        case _ => daily.withColumn("is_new", lit(true))
      })
      val inc = SeriesStats.lagPairSums(
        SeriesStats.withDayLags(u).filter(col("is_new")))
      val sums = st.settle(addTo(prev.lift(1), inc, "user_id"), "sums")
      val tails = st.settle(u
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("day").desc)))
        .filter(col("rn") <= 7)
        .select("user_id", "day", "x"), "tails")
      (Seq(tails, sums), SeriesStats.autocorr(sums))
    }(sink)
  }

  /** S10: streaming CDC merge — a change feed applied to a maintained
    * snapshot, one [[graft.operators.Merge.applyCdc]] per micro-batch
    * (foreachBatch: the merge is a multi-join job, not a row-wise
    * enrichment). The updated snapshot goes to `sink` after every
    * trigger; batches apply strictly in trigger order (foreachBatch's
    * sequential contract), so the maintained state equals the batch
    * fold. The initial snapshot settles at construction and each new
    * one settles before its parent is released; a production
    * deployment would write/read a parquet (or Delta-style) table
    * between triggers instead. */
  def streamingCdcMerge(ops: DataFrame, initial: DataFrame,
      keyCol: String, opCol: String = "op")(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S10", ops, init = st => Seq(st.settle(initial, "initial"))) {
      (st, snap, b) =>
        val next = st.settle(graft.operators.Merge
          .applyCdc(snap.head, b, keyCol, opCol), "snapshot")
        (Seq(next), next)
    }(sink)

  /** S11: streaming crawl-frontier URL dedup — the streaming form of
    * d13. Each micro-batch canonicalizes arriving URLs
    * ([[graft.operators.Urls.canonicalize]] — the map-only codegen'd
    * expression), collapses the batch per canonical key (keep-min id),
    * and verdicts against the maintained frontier of already-seen
    * canonical keys (broadcast-friendly left join): `seen = true`
    * carries the stored `first_id`. Unseen keys fold into the frontier
    * between triggers (each new frontier settles before its parent is
    * released; a production frontier is a parquet/Delta keyed store
    * appended per trigger, and the lookup a key-partitioned join).
    * Verdict rows: (canonical_url, id, n_in_batch, seen, first_id). */
  def streamingUrlFrontier(urls: DataFrame, initial: DataFrame,
      idCol: String, urlCol: String)(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S11", urls, init = st => Seq(st.settle(initial
        .select(col("canonical_url"), col("first_id").cast("long").as("first_id")),
        "initial"))) { (st, frontier, b) =>
      val batch = b
        .select(col(idCol).cast("long").as("id"),
          graft.operators.Urls.canonicalize(col(urlCol)).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(min(col("id")).as("id"), count(lit(1)).as("n_in_batch"))
      val verdict = st.settle(batch.join(frontier.head, Seq("canonical_url"), "left")
        .select(col("canonical_url"), col("id"), col("n_in_batch"),
          col("first_id").isNotNull.as("seen"),
          coalesce(col("first_id"), col("id")).as("first_id")), "verdict")
      val next = st.settle(frontier.head.union(
        verdict.filter(!col("seen"))
          .select(col("canonical_url"), col("first_id"))), "frontier")
      (Seq(next), verdict)
    }(sink)

  /** S12: streaming distribution-drift monitor — the streaming form of
    * x24. State is [[graft.operators.TextAnalysis.tokenCounts]]'s
    * (tok, c_a, c_b) table — vocabulary-sized and mergeable by plain
    * summation, so each micro-batch costs ONE token-explode aggregation
    * plus a vocab-sized union-groupBy fold; the drift terms
    * ([[graft.operators.TextAnalysis.driftFromCounts]]) are recomputed
    * from the folded state and emitted per trigger — the monitor always
    * reflects everything seen so far (equals the batch x24 over the
    * same prefix, which is what the spec asserts). Each trigger settles
    * the folded table; production would checkpoint the count table to
    * a keyed store per trigger. */
  def streamingTokenDrift(docs: DataFrame, textCol: String,
      sliceA: Column,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S12", docs, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        TextAnalysis.tokenCounts(b, textCol, sliceA), "tok"), "state")
      (Seq(next), TextAnalysis.driftFromCounts(next))
    }(sink)

  /** S13: streaming incremental materialized-view maintenance — the
    * streaming form of q55. Each micro-batch aggregates to per-key
    * partials ([[graft.operators.Merge.aggPartials]]) and folds into
    * the maintained summary ([[graft.operators.Merge.mergeAggState]])
    * — the mergeable-state quartet (cnt, sum, min, max), so state size
    * is key-cardinality, never history-sized, and each trigger costs
    * one map-side-combined aggregation + a key-sized fold. The folded
    * view goes to `sink` every trigger (equals the batch aggregate
    * over everything seen — the spec's assertion).
    *
    * `stateDir` + `checkpointDir` make the query KILLABLE: offsets
    * checkpoint through Spark's mechanism, the fold state snapshots
    * per trigger, and a restarted query resumes exactly where the
    * killed one stopped — StreamingRecoverySpec proves
    * resume-from-checkpoint equals the uninterrupted run. */
  def streamingIncrementalMv(rows: DataFrame, keyCols: Seq[String],
      valCol: Column,
      trigger: Trigger = Trigger.AvailableNow(),
      stateDir: Option[String] = None,
      checkpointDir: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S13", rows, trigger, stateDir, checkpointDir) { (st, prev, b) =>
      val partials = graft.operators.Merge.aggPartials(b, keyCols, valCol)
      val next = st.settle(prev.headOption.fold(partials)(
        graft.operators.Merge.mergeAggState(_, partials, keyCols)), "state")
      (Seq(next), next)
    }(sink)

  /** S14: streaming histogram quantiles — the streaming form of q60.
    * The grid ([lo, hi] × `buckets`) is pinned up front (production:
    * from historical data), so each micro-batch's cell counts
    * ([[graft.operators.Sketches.histCounts]]) fold into the
    * maintained histogram by PLAIN ADDITION — state is
    * cells-per-group sized, never history-sized — and the per-trigger
    * quantile read ([[graft.operators.Sketches.histQuantiles]]) runs
    * over that tiny state. The emitted estimates equal the batch
    * sketch over everything seen (the spec's assertion) because
    * histogram merge is exact, not approximate-on-merge. */
  def streamingHistQuantiles(rows: DataFrame, gCol: String, xCol: String,
      lo: Double, hi: Double, buckets: Int = 4096,
      qs: Seq[(Double, String)] = Seq(0.25 -> "p25", 0.5 -> "p50",
        0.75 -> "p75", 0.9 -> "p90"),
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S14", rows, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        Sketches.histCounts(b, gCol, xCol, lo, hi, buckets), "g", "b"), "state")
      (Seq(next), Sketches.histQuantiles(next, lo, hi, buckets, qs))
    }(sink)

  /** S15: streaming Z-order layout audit — the streaming form of q62.
    * The dimension EXTENTS are pinned up front (production: a layout
    * contract fixes the z-grid so files stay mutually comparable as
    * the table grows), so each micro-batch's per-bucket stats fold
    * into maintained state by pure semigroup ops — counts ADD,
    * mins MIN, maxes MAX — state is bucket-count sized, never
    * history-sized. Emitted stats equal the batch audit over
    * everything seen (min/max/sum merges are exact): each batch's
    * stats are [[graft.operators.ZOrder.bucketStats]] over the pinned
    * extents, the per-bucket operator q62 runs over data-derived
    * ones. */
  def streamingZorderStats(rows: DataFrame, aCol: String, bCol: String,
      aMin: Long, aMax: Long, bMin: Long, bMax: Long, log2Buckets: Int = 6,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S15", rows, trigger) { (st, prev, b) =>
      val cells = ZOrder.bucketStats(b, col(aCol), col(bCol), lit(aMin),
        lit(aMax), lit(bMin), lit(bMax), log2Buckets)
      val next = st.settle(prev.headOption.fold(cells)(_.union(cells).groupBy("zb")
        .agg(sum("n_rows").as("n_rows"),
          min("a_min").as("a_min"), max("a_max").as("a_max"),
          min("b_min").as("b_min"), max("b_max").as("b_max"))), "state")
      (Seq(next), next)
    }(sink)

  /** S16: streaming interval merge — the streaming form of q63.
    * Interval union is ASSOCIATIVE (merge(merge(A) ∪ B) ==
    * merge(A ∪ B)) and island event counts fold by addition, so the
    * maintained state is the merged islands THEMSELVES — one row per
    * merged interval regardless of how many events it absorbed, never
    * history-sized (a key streaming 24/7 contiguously holds ONE state
    * row). Each trigger re-sweeps state ∪ batch through
    * [[graft.operators.Intervals.merge]] (one key shuffle over
    * state+batch rows); the emitted islands equal the batch merge over
    * everything seen (the spec's assertion — the fold is exact, not
    * approximate-on-merge). Expects (user_id, ss, ee, n) rows. */
  def streamingIntervalMerge(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S16", rows, trigger) { (st, prev, b) =>
      val iv = b.select(col("user_id"), col("ss"), col("ee"), col("n"))
      val all = prev.headOption.fold(iv)(_.select(col("user_id"),
        col("m_start").as("ss"), col("m_end").as("ee"),
        col("n_events").as("n")).union(iv))
      val next = st.settle(graft.operators.Intervals.merge(all, "user_id"), "state")
      (Seq(next), next)
    }(sink)

  /** S17: streaming per-group top-k — the streaming form of q44's
    * mergeable bounded-heap TopKAgg. The heap is a SEMIGROUP (merge of
    * two k-cuts = k-cut of the union, because any element outside both
    * k-cuts is beaten by ≥ k elements in its own cut alone), so the
    * maintained state is exactly one k-list per group, and each
    * trigger costs one map-side-combined TopKAgg over the batch plus a
    * (2k per group)-row re-cut of state ∪ partial — never
    * history-sized. The emitted leaderboard equals the batch top-k
    * over everything seen (the spec's assertion; ties break id asc
    * inside the heap on both paths): the cut is q44's
    * [[graft.operators.Sketches.groupTopK]]. Expects (g, score, id)
    * rows. */
  def streamingTopK(rows: DataFrame, k: Int,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S17", rows, trigger) { (st, prev, b) =>
      val batchCut = b.select(col("g"), col("score"), col("id"))
      val all = prev.headOption.fold(batchCut)(
        _.select(col("g"), col("score"), col("id")).union(batchCut))
      val next = st.settle(Sketches.groupTopK(all, Seq(col("g")),
        col("score"), col("id"), k), "state")
      (Seq(next), next)
    }(sink)

  /** S19: streaming OHLC bars — the streaming form of t53. An OHLC
    * bar is a SEMIGROUP: open/close are min/max-STRUCT selections on
    * the total (us, event_id) order, high/low are min/max, volume and
    * tick count are sums — every field merges exactly, so the
    * maintained state is ONE bar row per (user, day) regardless of how
    * many ticks it absorbed (never history-sized; a bar that stopped
    * trading stops costing anything). Each trigger = one
    * map-side-combined bar aggregation over the batch, folded into
    * state by the same min/max/add merges; emitted bars equal the
    * batch t53 over everything seen (the spec's assertion — the merge
    * is exact, not approximate). Volume is held as DECIMAL in state
    * (exact, order-free) and surfaced as double only in the read. Bars
    * and read are t53's [[graft.operators.SeriesStats.ohlcPartials]]
    * and [[graft.operators.SeriesStats.ohlcBars]].
    * Expects (user_id, day_s, us, event_id, value) rows. */
  def streamingOhlc(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S19", rows, trigger) { (st, prev, b) =>
      val partial = SeriesStats.ohlcPartials(b)
      val next = st.settle(prev.headOption.fold(partial)(_.union(partial)
        .groupBy("user_id", "day_s")
        .agg(min("o").as("o"), max("c").as("c"),
          max("high").as("high"), min("low").as("low"),
          sum("vol").cast(DecimalType(38, 2)).as("vol"),
          sum("n_ticks").as("n_ticks"))), "state")
      (Seq(next), SeriesStats.ohlcBars(next))
    }(sink)

  /** S20: streaming skyline — the streaming form of q65. Dominance is
    * MONOTONE under insertion (points are only added, so a dominated
    * point stays dominated forever) and the skyline operator is
    * distributive (skyline(A ∪ B) = skyline(skyline(A) ∪ B)), so the
    * maintained state is the CURRENT FRONTIER ITSELF — frontier-sized,
    * never history-sized — and each trigger re-runs the exact batch
    * operator over state ∪ batch. Multiplicities stay exact: a point
    * that ever reaches the final frontier was never dominated at any
    * earlier trigger, so its (n, rep) folded every occurrence (sum /
    * min merges on the dedup groupBy). Emitted frontier equals the
    * batch skyline over everything seen (the spec's assertion).
    * Expects (g, x, y, n, rep) rows — x minimized, y maximized. */
  def streamingSkyline(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery = {
    def frontier(df: DataFrame): DataFrame =
      graft.operators.Skyline.skyline(
        df.groupBy("g", "x", "y")
          .agg(sum("n").as("n"), min("rep").as("rep")),
        "g", "x", "y", "n", "rep")
    foldStream("S20", rows, trigger) { (st, prev, b) =>
      val batch = b.select("g", "x", "y", "n", "rep")
      val next = st.settle(frontier(prev.headOption.fold(batch)(_.union(batch))), "state")
      (Seq(next), next)
    }(sink)
  }

  /** S21: streaming Count-Min sketch — the streaming form of x28. CMS
    * cells are purely ADDITIVE, so the maintained state is the fixed
    * seeds×buckets cell table whatever the stream length (4096 rows at
    * the x28 default — the canonical bounded-state frequency monitor),
    * and each trigger folds one map-side-combined batch cell count
    * into state by plain addition. The per-trigger read answers point
    * queries for a PINNED probe watchlist (production shape: the terms
    * an operator is monitoring — a data-dependent top-k would make the
    * probe set itself unstable across triggers); estimates carry CMS's
    * conservative guarantee and equal the batch sketch over everything
    * seen (the spec's assertion — addition is exact). Bucket rule,
    * cells and estimate read are x28's
    * ([[graft.operators.Sketches.countMinCells]],
    * [[graft.operators.Sketches.countMinEstimate]]); each batch counts
    * its tokens before deriving cells, exact by associativity. Expects
    * a `tok` column. */
  def streamingCountMin(rows: DataFrame, probes: Seq[String],
      seeds: Int = 4, buckets: Int = 1024,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S21", rows, trigger) { (st, prev, b) =>
      val cells = Sketches.countMinCells(Sketches.countMinExact(b), seeds, buckets)
      val next = st.settle(addTo(prev.headOption, cells, "seed", "bucket"), "state")
      val s = next.sparkSession
      import s.implicits._
      (Seq(next), Sketches.countMinEstimate(probes.toDF("tok"), next, seeds, buckets))
    }(sink)

  /** S22: streaming event-transition matrix — the streaming form of
    * q67. Transition counts fold by ADDITION, so the count state is
    * the type²-sized matrix; the only other state is ONE carried
    * (us, event_id, type) max-struct per user — user-cardinality, the
    * boundary memory that stitches a batch's first event to the
    * previous batch's last. Each trigger: union the carried last
    * events (tagged) with the batch, one lag window, count only pairs
    * whose CURRENT row is a real batch row (carried rows contribute
    * only as predecessors — never double-counted), fold counts by
    * addition and re-fold the carried struct by max. Requires
    * per-user event-time-ordered arrival (the Kafka
    * partition-by-user shape); the spec splits by time and proves the
    * folded matrix equals the batch q67 counts over everything seen:
    * pairs, counts and probabilities are q67's
    * [[graft.operators.SeriesStats]] definitions, ordered here by the
    * microsecond `us` the rows carry.
    * Expects (user_id, us, event_id, event_type) rows. */
  def streamingTransitions(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S22", rows, trigger) { (st, prev, b) =>
      val batch = b
        .select(col("user_id"), col("us"), col("event_id"),
          col("event_type"), lit(false).as("carried"))
      val all = prev match {
        case Seq(_, lastEv) => lastEv.select(col("user_id"), col("us"),
          col("event_id"), col("event_type"), lit(true).as("carried"))
          .union(batch)
        case _ => batch
      }
      val pairs = SeriesStats.transitionCounts(
        SeriesStats.withPrevType(all, "us").filter(!col("carried")))
      val counts = st.settle(addTo(prev.headOption, pairs,
        "prev_type", "cur_type"), "counts")
      val last = st.settle(all
        .groupBy("user_id")
        .agg(max(struct(col("us"), col("event_id"), col("event_type")))
          .as("m"))
        .select(col("user_id"), col("m.us").as("us"),
          col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type")), "last")
      (Seq(counts, last), SeriesStats.transitionProbs(counts))
    }(sink)

  /** S23: streaming embedding diversity — the streaming twin of e13.
    * State = the per-label EXACT decimal moment rows (n, Σq_d, Σ‖q‖²)
    * of [[graft.operators.EmbedStats.diversityMoments]] — a true
    * semigroup (column-wise decimal addition: no rounding error, no
    * order sensitivity), so state stays label-cardinality sized and
    * the emitted diversity equals batch e13 over everything seen
    * EXACTLY, not approximately — the mode-collapse monitor a
    * continuously-embedded corpus runs per ingest batch. */
  def streamingDiversity(rows: DataFrame, labelCol: String, vecCol: String,
      dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S23", rows, trigger) { (st, prev, b) =>
      val cells = graft.operators.EmbedStats
        .diversityMoments(b, labelCol, vecCol, dim)
      val next = st.settle(prev.headOption.fold(cells)(s => graft.operators.EmbedStats
        .mergeMoments(s.unionByName(cells), dim)), "state")
      (Seq(next), graft.operators.EmbedStats.diversityFromMoments(next, dim))
    }(sink)

  /** S24: streaming Good-Turing / OOV-mass monitor — the streaming
    * twin of x35. State = the (tok, c) vocabulary count table (the
    * S12 tokenCounts discipline: counts fold by ADDITION, vocab-sized
    * whatever the stream length); per trigger the batch's token counts
    * (x35's [[graft.operators.TextAnalysis.tokenTypeCounts]], which
    * keep the empty token) fold in and the emitted
    * frequency-of-frequencies table — with
    * row 1's N_1/N unseen-mass estimate — equals batch x35 over
    * everything seen EXACTLY (integer counts + the same two divisions).
    * The live read: a crawl whose singleton mass stops falling has
    * stopped saturating — keep crawling; one whose N_1/N collapsed is
    * re-crawling itself. */
  def streamingGoodTuring(docs: DataFrame, textCol: String,
      maxR: Int = 10,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S24", docs, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        TextAnalysis.tokenTypeCounts(b, textCol), "tok"), "state")
      (Seq(next), TextAnalysis.goodTuringFromCounts(next, maxR))
    }(sink)

  /** S25: streaming incremental CDC-chunk dedup — d17's streaming
    * half, in the S8 corpus-never-re-pairs posture: state = the seen
    * chunk-DIGEST index (digests only — text never re-chunks, never
    * re-shuffles); each arriving doc reports its chunk count and the
    * fraction already known to the corpus-so-far (a high known_frac is
    * a near-copy whose edits didn't disturb most content-defined
    * chunks — exactly what CDC boundaries exist to surface), then its
    * own digests fold into the index. State grows with DISTINCT corpus
    * chunks (the S8/d9 index posture, documented), not with stream
    * length times text size.
    *
    * Intra-batch blindness, pinned: "corpus-so-far" means the index AS
    * OF THE PREVIOUS trigger — docs in the SAME micro-batch never see
    * each other's digests (verdicts are computed against `state`
    * before the batch folds in), so an original and its near-copy
    * arriving in one trigger both report known_frac 0 and the copy is
    * flagged only from the NEXT batch on. Same-batch mutual dedup is
    * d17's batch job, not this operator's contract.
    *
    * `stateDir` + `checkpointDir` make the index survive a kill
    * ([[SnapshotState]]). Replay-safe BECAUSE the restore predicate is
    * strict: a crash-replayed trigger re-judges its docs against
    * snapshot id−1 — the index as of the previous trigger, exactly the
    * pinned intra-batch-blindness contract — then overwrites snapshot
    * id with identical content. */
  def streamingCdcDedup(docs: DataFrame, idCol: String, textCol: String,
      trigger: Trigger = Trigger.AvailableNow(),
      stateDir: Option[String] = None,
      checkpointDir: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S25", docs, trigger, stateDir, checkpointDir) { (st, prev, b) =>
      val chunks = st.settle(graft.operators.Dedup.cdcChunks(b, idCol, textCol), "chunks")
      val (verdicts, index) = knownFraction(prev.headOption, chunks,
        "doc_id", "digest", "n_chunks")
      (Seq(st.settle(index, "state")), verdicts)
    }(sink)

  /** S28: streaming Bloom-filter dedup — d18's operational streaming
    * half, and the strongest bounded-state story in the family: state
    * is the SET BIT POSITIONS of an `mBits`-bit Bloom filter (≤ mBits
    * rows FOREVER — not corpus-sized, not vocab-sized; the d9/S8
    * digest index grows with the corpus, this never does). Each
    * arriving doc is flagged maybe-duplicate iff ALL its `kHash`
    * positions were set by a strictly-earlier doc — earlier triggers
    * via the folded bit set, earlier docs of the SAME trigger via the
    * batch-local min-setter (so for monotone id-ordered arrival the
    * verdicts equal [[graft.operators.Dedup.bloomVerdicts]]'s batch
    * min-setter replay doc-for-doc — the S28 spec proves it over a
    * 2-trigger split). Flags are maybe-dups with the filter's
    * false-positive rate (audited by the batch d18 twin); misses are
    * impossible (exact copies share every position).
    *
    * Per trigger: one explode to (id, pos), one pos-keyed min
    * aggregate, one join against the bounded bit set, one groupBy(id)
    * AND-fold. Text never shuffles; nothing in the trigger is
    * corpus-sized. */
  def streamingBloomDedup(docs: DataFrame, idCol: String,
      textCol: String, mBits: Int = 2048, kHash: Int = 3,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    // state: the distinct set positions, ≤ mBits rows
    foldStream("S28", docs, trigger) { (st, prev, b) =>
      val d = b.select(col(idCol).cast("long").as("id"),
        md5(graft.operators.Dedup.normText(col(textCol))).as("digest"))
      val pos = st.settle(d.select(col("id"),
        explode(graft.operators.Dedup.bloomPositions(col("digest"),
          mBits, kHash)).as("pos")), "positions")
      val batchMin = pos.groupBy("pos").agg(min("id").as("first_id"))
      val withPrev = prev.headOption match {
        case Some(sb) => batchMin.join(
          sb.withColumn("prev", lit(true)), Seq("pos"), "left")
        case None => batchMin.withColumn("prev", lit(false))
      }
      // bit set before doc d ⟺ set in an earlier trigger OR the
      // batch's min setter < d (the d18 identity, batch-local)
      val verdicts = pos.join(withPrev, Seq("pos"))
        .withColumn("setb", coalesce(col("prev"), lit(false)) ||
          (col("first_id") < col("id")))
        .groupBy("id")
        .agg((min(col("setb").cast("int")) === 1).as("flagged"))
      val bits = pos.select("pos")
      val next = st.settle(prev.headOption.fold(bits)(_.select("pos").union(bits))
        .distinct(), "state")
      (Seq(next), verdicts)
    }(sink)

  /** S32: streaming partial-overlap detection via winnowing
    * fingerprints — x44's live half, and the GRANULARITY complement
    * of the family's other dedup streams: S28's Bloom flags whole-doc
    * exact copies, S25's CDC chunks catch shared kilobyte blocks,
    * while winnowing fingerprints ([[graft.operators.TextAnalysis.winnow]])
    * carry the SIGMOD'03 locality guarantee down to any shared
    * w+k−1-token run — a lifted quote, a boilerplate paragraph, a
    * partial plagiarism — robust to position shifts that break
    * fixed-width chunking. Each arriving doc reports
    * `n_known / n_fp`: the fraction of its selected fingerprints
    * already present in the corpus-so-far index.
    *
    * State = the DISTINCT fingerprint set — corpus-fingerprint
    * cardinality (expected density 2/(w+1) of corpus tokens, the
    * S8/S25 index posture, documented), never stream length × text;
    * history is never re-read and text never shuffles (fingerprints
    * fold within the row, only (id, fp) pairs move).
    *
    * Intra-batch blindness, pinned (the S25 contract): verdicts are
    * computed against the index AS OF THE PREVIOUS trigger, so an
    * original and its quoting doc arriving in one batch both report
    * known_frac 0. Docs below k+w−1 tokens select no fingerprints and
    * emit no verdict row (x44's pinned empty case). */
  def streamingWinnowOverlap(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 4, w: Int = 5,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    // state: the distinct fps, corpus-fp-cardinality
    foldStream("S32", docs, trigger) { (st, prev, b) =>
      val fps = st.settle(graft.operators.TextAnalysis
        .winnow(b, idCol, textCol, k, w)
        .select(col("id"), col("fp")).distinct(), "fingerprints")
      val (verdicts, index) = knownFraction(prev.headOption, fps,
        "id", "fp", "n_fp")
      (Seq(st.settle(index, "state")), verdicts)
    }(sink)

  /** S33: streaming higher-moment monitor — t61's live half, and the
    * tightest state bound after S30: per key ONE row of five exact
    * integers (n, Σc, Σc², Σc³, Σc⁴ in cents — a semigroup under
    * column-wise addition), CONSTANT size per key forever, and every
    * trigger re-derives the corpus-so-far sample skewness G1 and
    * excess kurtosis G2 through the SAME [[graft.operators.Moments]]
    * power sums, kernels and pinned IEEE terminals as batch t61 — the
    * fold is the
    * batch answer by construction, doubles included (the S30 "exact
    * decimal moment row" posture extended to 3rd/4th moments). The
    * live read: distribution shape drifting — a fee schedule change
    * skewing transaction values, a sensor saturating into negative
    * kurtosis — pages without re-reading history.
    *
    * Per trigger: one map pass + one key aggregate on the BATCH only,
    * a key-equi outer join against key-cardinality state. */
  def streamingMoments(rows: DataFrame, keyCol: String, valueCol: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    // state: key, n, s1..s4 — one row per key
    foldStream("S33", rows, trigger) { (st, prev, b) =>
      val sums = Moments.powerSums(col("c"), identity)
      val batch = b.select(col(keyCol).as("k"),
          Moments.cents(col(valueCol)).as("c"))
        .groupBy("k").agg(sums.head, sums.tail: _*)
      val next = st.settle(addTo(prev.headOption, batch, "k"), "state")
      val (m2i, m3i, m4i) = Moments.kernels(
        col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
      (Seq(next), next
        .withColumn("m2i", m2i).withColumn("m3i", m3i)
        .withColumn("m4i", m4i)
        .select(col("k"), col("n"),
          Moments.g1(col("n"), col("m2i"), col("m3i")).as("skew"),
          Moments.g2(col("n"), col("m2i"), col("m4i")).as("kurt")))
    }(sink)

  /** S9: streaming ingest curation — each arriving micro-batch runs
    * the full curation pipeline (dedup, decontamination, quality,
    * length) INCREMENTALLY against the corpus's precomputed digest
    * index ([[graft.operators.Curation.curateIncremental]]): the
    * corpus's digests/grams/quality are computed and cached ONCE per
    * stream, never per trigger, and per batch the index is consulted
    * via a map-only broadcast semi-join — the S8 "corpus never
    * re-pairs" posture. Only batch verdicts reach `sink`. A production
    * deployment appends kept batch digests to the index between
    * triggers. */
  def streamingCuration(docs: DataFrame, corpus: DataFrame,
      evalDocs: DataFrame, idCol: String, textCol: String)(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S9", docs, init = st =>
        Seq(st.cache(graft.operators.Curation.digests(corpus, idCol, textCol)))) {
      (_, corpusIndex, b) =>
        (corpusIndex, graft.operators.Curation.curateIncremental(
          b, corpusIndex.head, evalDocs, idCol, textCol))
    }(sink)

  /** S27: streaming Zipf rank-frequency monitor — x38's live half:
    * state = x38's (source, tok, c) count table
    * ([[graft.operators.TextAnalysis.sourceTokenCounts]]; the S12/S24 tokenCounts
    * discipline — counts fold by ADDITION, vocab-sized whatever the
    * stream length; text tokenizes once in its arrival batch and never
    * re-shuffles), and each trigger re-derives the per-source
    * least-squares power-law fit via
    * [[graft.operators.TextAnalysis.zipfFromCounts]] — everything
    * after the fold is vocab-bounded (rank window + top-200 sums). The
    * live read: a crawl source whose slope drifts toward 0 is going
    * templated/boilerplate mid-crawl; one plunging far below −1 is
    * re-crawling the same pages (degenerate repetition) — caught per
    * ingest batch, not after the corpus is fixed. After any batch
    * prefix the emitted table provably equals batch x38 over
    * everything seen EXACTLY (integer count state + the identical
    * integer-micros regression; spec-pinned). */
  def streamingZipf(docs: DataFrame, textCol: String,
      sourceCol: String, topR: Int = 200,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S27", docs, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        TextAnalysis.sourceTokenCounts(b, textCol, sourceCol), "source", "tok"), "state")
      (Seq(next), TextAnalysis.zipfFromCounts(next, topR))
    }(sink)

  /** S29: streaming lexical-diversity monitor — x39's live half: each
    * arriving doc's moving-window distinct-type sums compute
    * WITHIN-ROW in its arrival batch (the x39 HOF kernel — text never
    * re-shuffles, never re-scans), fold into per-source integer
    * partials ([[graft.operators.TextAnalysis.mattrPartials]] — 4
    * additive int64 columns, SOURCE-cardinality state forever), and
    * each trigger re-derives the token-weighted window type ratio
    * Σ|distinct(win)| / Σ slots per source
    * ([[graft.operators.TextAnalysis.mattrMassFromPartials]]). The
    * live read: one source's ratio collapsing mid-crawl = boilerplate
    * flooding in. The ratio is ONE terminal IEEE division over exact
    * fold-order-free integer sums, so after any batch prefix the
    * emitted table equals the batch computation over everything seen
    * EXACTLY (spec-pinned, doubles included). */
  def streamingMattr(docs: DataFrame, textCol: String,
      sourceCol: String, w: Int = 25,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S29", docs, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        TextAnalysis.mattrPartials(b, sourceCol, textCol, w), "source"), "state")
      (Seq(next), TextAnalysis.mattrMassFromPartials(next))
    }(sink)

  /** S30: streaming anisotropy monitor — e20's live half and the
    * hardest-bounded state in the embedding family: state is ONE
    * exact decimal moment row of dim+2 numbers (n, Σ⌊norm·10⁶⌋,
    * per-dim Σ⌊û_d·10⁶⌋, Σ‖û‖²-on-grid) that folds by column-wise
    * addition — CONSTANT-size forever, independent of both stream
    * length and corpus cardinality (even the digest-index twins grow;
    * this never does). Each trigger re-derives mean pairwise cosine +
    * mean norm over everything seen, EXACTLY equal to batch e20 (the
    * grid sums are order-free integers), so a drifting embedder —
    * anisotropy creeping up as a fine-tune collapses directions —
    * pages before the next similarity job trusts its thresholds.
    * Vectors quantize in their arrival batch; nothing re-shuffles. */
  def streamingAnisotropy(rows: DataFrame, vecCol: String, dim: Int = 64,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S30", rows, trigger) { (st, prev, b) =>
      val m = graft.operators.EmbedStats.anisotropyMoments(b, vecCol, dim)
      val next = st.settle(prev.headOption.fold(m)(s => graft.operators.EmbedStats
        .mergeAnisotropyMoments(s.unionByName(m), dim)), "state")
      (Seq(next), graft.operators.EmbedStats.anisotropyFromMoments(next, dim))
    }(sink)

  /** S31: streaming cell-wise correction overlay — t60's live half
    * and the CELL-granular sibling of S10's row-wise CDC merge: a
    * stream of sparse correction records (each row fixes SOME columns
    * of one entity, nulls elsewhere) folds onto a keyed snapshot so
    * that every cell always holds its LATEST non-null value. Each
    * trigger first collapses the batch per key (q57's goldenRecord
    * argmax on `orderCol` — intra-batch corrections resolve by
    * version, not arrival race), then overlays it on the state via
    * `combineFirst(batch, state)` — batch cells win where non-null,
    * holes keep the prior value, new keys insert. State = the patched
    * snapshot: ENTITY-cardinality forever (the S10 posture), never
    * stream-length; for batches arriving in version order the state
    * provably equals batch q57 survivorship over everything seen
    * (spec-pinned). The live read: a corrections feed (manual fixes,
    * re-crawls, enrichment) kept continuously applied without ever
    * re-reading history. */
  def streamingCellOverlay(updates: DataFrame, keys: Seq[String],
      orderCol: String, valueCols: Seq[String],
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S31", updates, trigger) { (st, prev, b) =>
      val folded = graft.operators.Merge
        .goldenRecord(b, keys, orderCol, orderCol, valueCols)
        .select((keys.map(col) ++ valueCols.map(col)): _*)
      val next = st.settle(prev.headOption.fold(folded)(
        graft.operators.Merge.combineFirst(folded, _, keys)), "state")
      (Seq(next), next)
    }(sink)

  /** S36: streaming snapshot diff — q43's live half and the LABEL
    * companion of S10's CDC merge / S31's cell overlay: a CDC stream
    * of (key, digest, op, seq) records folds onto a deployment
    * BASELINE snapshot, and every trigger re-emits the current
    * added/removed/changed labels vs that baseline — the "what has
    * drifted since the release snapshot" read, maintained live
    * instead of recomputed by a full q43 pass over two stored
    * snapshots. State = one row per key ever seen: (key, baseline
    * digest, current digest) — ENTITY-cardinality forever (the S10
    * posture), never stream-length — and the label is a pure
    * projection of that pair (base null → added, cur null → removed,
    * differing → changed), so transitions compose for free: a key
    * added then deleted nets to NO label, a change reverted to the
    * baseline digest nets to NO label — exactly q43's semantics
    * against the final state (spec-pinned). Each trigger: the batch
    * collapses per key to its LAST op by `seq` (the S31 argmax — no
    * arrival races), then ONE full-outer join folds it into state.
    * `baseline`/`cdc` columns: k, dg (+ op ∈ {U, D}, seq on cdc). */
  def streamingSnapshotDiff(cdc: DataFrame, baseline: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery = {
    val base = baseline.select(col("k"), col("dg").as("dg_base"),
      col("dg").as("dg_cur"))
    foldStream("S36", cdc, trigger) { (st, prev, b) =>
      val last = b.groupBy("k")
        .agg(max(struct(col("seq"), col("op"), col("dg"))).as("m"))
        .select(col("k"), col("m.op").as("op"), col("m.dg").as("dg_new"))
      val next = st.settle(prev.headOption.getOrElse(base)
        .join(last, Seq("k"), "full_outer")
        .select(col("k"), col("dg_base"),
          when(col("op").isNull, col("dg_cur"))
            .when(col("op") === "D", lit(null))
            .otherwise(col("dg_new")).as("dg_cur")), "state")
      (Seq(next), next.select(col("k"),
          when(col("dg_base").isNull && col("dg_cur").isNotNull, "added")
            .when(col("dg_base").isNotNull && col("dg_cur").isNull, "removed")
            .when(col("dg_base") =!= col("dg_cur"), "changed").as("change"))
        .filter(col("change").isNotNull))
    }(sink)
  }

  /** S37: streaming rolling quantile — t68's live half with S35's
    * boundary-buffer state design: per user the state is the last
    * THREE (es, event_id, value) observations — the buffer that lets
    * a new event see its three predecessors across the trigger seam —
    * so state is CONSTANT per key forever (≤ 3 tail rows),
    * independent of stream length. Each trigger: the union tail∪batch
    * runs ONE lag window per user, quantiles evaluate ONLY for rows
    * the batch contributed (old-tail rows were emitted when THEY were
    * new; a trailing frame over preceding rows means no event's
    * output is ever revised), and the new tail is the last 3 rows of
    * the union. Lags and blends are the SAME
    * [[graft.operators.SeriesStats.withRollingQuantiles]] as batch
    * t68, so the fold equals the batch pass by construction —
    * selection network, pinned IEEE blends, warm-up nulls included.
    * Arrival contract (S35's): triggers are event-time-monotone per
    * user; within a trigger any order is fine (the window sorts). The
    * live read: a user's rolling p50/p25 spread widening mid-stream
    * is a volatility page — without re-reading history. */
  def streamingRollingQuantile(rows: DataFrame,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    foldStream("S37", rows, trigger) { (st, prev, b) =>
      val batch = b
        .select(col("user_id"), unix_timestamp(col("ts")).as("es"),
          col("event_id"), col("value"))
      val u = st.cache(prev.headOption.fold(batch.withColumn("is_new", lit(true)))(
        _.withColumn("is_new", lit(false))
          .unionByName(batch.withColumn("is_new", lit(true)))))
      val tails = st.settle(u
        .withColumn("rn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("es").desc, col("event_id").desc)))
        .filter(col("rn") <= 3)
        .select("user_id", "es", "event_id", "value"), "tails")
      (Seq(tails), SeriesStats.withRollingQuantiles(u)
        .filter(col("is_new")).drop("is_new"))
    }(sink)
  }

  /** S26: streaming mixing-plan monitor — p5's live half: as crawl
    * batches arrive, per-source available-token totals fold into state
    * (a semigroup sum — state is SOURCE-cardinality sized, never
    * stream-length sized; text tokenizes once in its arrival batch and
    * never re-shuffles) and each trigger re-derives the full
    * [[graft.operators.Sampling.mixingPlan]] allocation table, so the
    * mix operator watches T*, per-source epochs, and the BINDING
    * source shift live as availability grows. Availability and weight
    * units are p5's ([[graft.operators.Sampling.mixAvailability]],
    * [[graft.operators.Sampling.withMixUnits]]). After any prefix of
    * batches the emitted table provably equals the batch solver over
    * everything seen (the S24 fold-then-finish posture; spec-pinned). */
  def streamingMixingPlan(docs: DataFrame, textCol: String,
      sourceCol: String, cap: Long = 4L,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    foldStream("S26", docs, trigger) { (st, prev, b) =>
      val next = st.settle(addTo(prev.headOption,
        Sampling.mixAvailability(b, textCol, sourceCol), "source"), "state")
      (Seq(next), Sampling.mixingPlan(Sampling.withMixUnits(next), cap))
    }(sink)
}
