package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanBridge

/** The one owner of cache lifetimes in the batch layers (operators,
  * query registries) and streaming (one [[open]] scope per query):
  * `Settle.scope(label) { st => … st.cache(df) …
  * st.settle(df, phase) … }`. On exit a scope releases every cache and
  * checkpoint it created that its result's plan (a DataFrame, or any
  * tuple, `Seq` or `Option` of them) does not reference, and hands the
  * rest to the enclosing scope on the same thread; a throw releases
  * all it created. Caching a plan another scope already cached is a
  * no-op, so a scope never releases another's entry.
  *
  * Laziness contract: registered queries (each built inside a scope
  * named after it) and operators may run Spark jobs at construction —
  * every eager settle, and every loop of jobs over settled frames, runs
  * before the DataFrame is returned. The jobs a settle, a
  * [[Scope.run]] or a [[Scope.collectWithin]] runs carry the job
  * description `<label>/<phase>`. Inside [[capture]] each settle
  * records its frame's optimized plan from before the checkpoint, so
  * the plan audit and `PlanDump` see the work a checkpoint scan hides.
  */
object Settle {

  /** A settled frame's optimized plan, recorded before its checkpoint. */
  final case class Settled(label: String, phase: String, plan: LogicalPlan)

  /** What frames read: checkpoint and cache-block RDDs, cache entries. */
  private[graft] final case class Refs(rddIds: Set[Int], entries: Seq[AnyRef]) {
    def holds(rddId: Int): Boolean = rddIds(rddId)
    def holds(entry: AnyRef): Boolean = entries.exists(_ eq entry)
  }

  private[graft] def referencedBy(dfs: Seq[DataFrame]): Refs =
    (Refs.apply _).tupled(PlanBridge.reads(dfs))

  /** A cache or checkpoint: whether a result reads it, and its release. */
  private type Held = (Refs => Boolean, () => Unit)

  private val current = new ThreadLocal[Scope]
  private val sweeps = new AtomicLong(0L)
  @volatile private var sink: ConcurrentLinkedQueue[Settled] = null

  def scope[A](label: String)(body: Scope => A): A = {
    val parent = Option(current.get)
    val s = new Scope(label)
    current.set(s)
    val a =
      try body(s)
      catch { case t: Throwable => s.release(None); throw t }
      finally current.set(parent.orNull)
    val survivors = s.release(Some(referencedBy(frames(a))))
    parent.foreach(_.adopt(survivors))
    a
  }

  /** A scope not tied to one block — a streaming query's lifetime:
    * [[Scope.within]] runs each trigger as its child, [[Scope.close]]
    * releases all it holds. */
  def open(label: String): Scope = new Scope(label)

  /** Runs `body`, returning with its value every frame settled while it
    * ran (on any thread), in settle order. */
  def capture[A](body: => A): (A, Seq[Settled]) = synchronized {
    val prev = sink
    sink = new ConcurrentLinkedQueue[Settled]
    try (body, sink.asScala.toSeq) finally sink = prev
  }

  final class Scope private[Settle] (val label: String) {
    private val held = ArrayBuffer.empty[Held]

    /** Lazy `persist`: the frame materializes with its first consumer. */
    def cache(df: DataFrame): DataFrame = {
      if (PlanBridge.cacheEntry(df).isEmpty) {
        df.persist()
        hold((r: Refs) => PlanBridge.cacheEntry(df).exists(r.holds), () => df.unpersist(false))
      }
      df
    }

    /** Eager `localCheckpoint`: runs the job `localCheckpoint(true)` runs. */
    def settle(df: DataFrame, phase: String): DataFrame =
      settleWith(df, phase)(PlanBridge.materialize)._1

    /** Lazy `localCheckpoint` materialized by its first job, `probe` (one
      * job settles the frame and answers a question about it).
      * Held before any job runs, so a failed job leaves nothing behind. */
    def settleWith[A](df: DataFrame, phase: String)(probe: DataFrame => A): (DataFrame, A) = {
      val q = sink
      if (q != null) q.add(Settled(label, phase, df.queryExecution.optimizedPlan))
      run(phase) {
        val out = df.localCheckpoint(false)
        out.queryExecution.analyzed.foreach {
          case r: LogicalRDD => hold((refs: Refs) => refs.holds(r.rdd.id), () => PlanBridge.unpersist(r.rdd))
          case _ =>
        }
        (out, probe(out))
      }
    }

    /** Runs `action`, a driver action (count, head, collect, isEmpty),
      * so that every job it starts carries `<label>/<phase>`. */
    def run[A](phase: String)(action: => A): A = {
      val sc = SparkSession.active.sparkContext
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$label/$phase")
      try action finally sc.setLocalProperty("spark.job.description", prevDesc)
    }

    /** `df`'s rows, in partition order, while it has at most `bound`
      * of them; `None` above the bound. One job labelled
      * `<label>/<phase>`: each task returns its rows while they number
      * at most its share of the bound (bound / partitions), and past
      * that only their count, up to bound + 1; once the rows counted
      * pass the bound the driver keeps no more and cancels the job. So
      * a collect that passes the bound ships next to nothing. When they
      * do not pass it but a task held more than its share, a second job
      * under the same label fetches that task's partition. Tasks ship
      * copies of the plan's internal rows, which the driver turns into
      * `Row`s. The regime switch of the graph loops: state that fits
      * stays on the driver. */
    def collectWithin(df: DataFrame, phase: String, bound: Int): Option[Array[Row]] = run(phase) {
      val rows = df.queryExecution.toRdd
      val parts = new Array[Array[InternalRow]](rows.getNumPartitions)
      val share = bound / math.max(parts.length, 1)
      var kept = 0L
      val over = Promise[Unit]()
      val job = rows.sparkContext.submitJob(rows,
        (it: Iterator[InternalRow]) => {
          val head = it.take(share + 1).map(_.copy()).toArray
          if (head.length <= share) (head.length.toLong, head)
          else (head.length + it.take(bound - share).size.toLong, null)
        }, parts.indices,
        (i: Int, part: (Long, Array[InternalRow])) => if (!over.isCompleted) {
          kept += part._1
          if (kept > bound) over.trySuccess(()) else parts(i) = part._2
        }, ())
      Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
        Duration.Inf)
      if (over.isCompleted) {
        job.cancel()
        Await.ready(job, Duration.Inf)
        None
      } else {
        Await.result(job, Duration.Inf) // rethrows a failed job
        val rest = parts.indices.filter(parts(_) == null)
        if (rest.nonEmpty) Await.result(rows.sparkContext.submitJob(rows,
          (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, rest,
          (k: Int, part: Array[InternalRow]) => parts(rest(k)) = part, ()), Duration.Inf)
        val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
        Some(parts.flatten.map(toRow(_).asInstanceOf[Row]))
      }
    }

    /** Runs independent arms as concurrent Spark jobs, inside this
      * scope and one cancellable job group; results in input order. A
      * failing arm cancels the others, which are awaited before the
      * rethrow so this scope's release sees all they settled. */
    def sweep[A](xs: Seq[A])(f: A => DataFrame): Seq[DataFrame] = {
      val pool = Executors.newFixedThreadPool(xs.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      val group = s"graft-sweep-${sweeps.incrementAndGet()}"
      val sc = SparkSession.active.sparkContext
      try {
        val arms = xs.map(x => Future {
          sc.setJobGroup(group, "sweep arm", interruptOnCancel = true)
          current.set(this)
          try f(x) finally { current.remove(); sc.clearJobGroup() }
        })
        try arms.map(Await.result(_, Duration.Inf))
        catch {
          case e: Throwable =>
            sc.cancelJobGroup(group)
            arms.foreach(Await.ready(_, Duration.Inf))
            throw e
        }
      } finally pool.shutdown()
    }

    /** Runs `body` on this thread in a child scope of this one, then
      * keeps only what its result reads: the child's survivors become
      * this scope's, and what this scope held before that the result
      * no longer reads (the previous trigger's state) is released. */
    def within[A](label: String)(body: Scope => A): A = {
      val prev = current.get
      current.set(this)
      val a = try scope(label)(body) finally current.set(prev)
      adopt(release(Some(referencedBy(frames(a)))))
      a
    }

    /** Releases everything this scope holds. */
    def close(): Unit = release(None)

    private def hold(h: Held): Unit = adopt(Seq(h))
    private[Settle] def adopt(hs: Seq[Held]): Unit = synchronized { held ++= hs }

    /** Releases, newest first, what `refs` does not hold; returns the rest. */
    private[Settle] def release(refs: Option[Refs]): Seq[Held] = synchronized {
      val (kept, gone) = held.toSeq.partition(h => refs.exists(h._1))
      gone.reverse.foreach(_._2())
      held.clear()
      kept
    }
  }

  /** The DataFrames inside a scope's result. */
  private def frames(a: Any): Seq[DataFrame] = a match {
    case d: Dataset[_] => Seq(d.toDF())
    case i: Iterable[_] => i.toSeq.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }
}
