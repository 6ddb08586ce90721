package graftperf

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** The benchmark harness: one JVM per run, one client issuing one
  * operation at a time (a closed loop) into `local[min(4, cores)]`.
  *
  * Modes:
  *   run       set up the workload, check every operation's output in a
  *             first pass, then measure whole passes for `seconds`
  *   record    write the expected digests and per-query costs
  *   selftest  check the harness's own digest and selection logic
  *
  * Results go to `--out` as JSON; `perfbench/run.py` turns them into the
  * benchmark's metrics. */
object Perf {
  /** Rows of the `typecast` table. */
  val TypecastRows = 200000L
  /** One `sweep` query is picked from every stratum of this many. */
  val SweepStride = 16
  /** `sweep` candidates cost at most this many seconds each. */
  val SweepMaxCost = 1.0
  /** Set-up repetitions whose median is reported as input generation. */
  val GenReps = 3

  final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, data: String, expected: String, out: String)

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""), m.getOrElse("seed", "0").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m.getOrElse("data", ""), m.getOrElse("expected", ""), m.getOrElse("out", ""))
  }

  val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftperf")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this JVM has used, on all its threads. Time the host
    * gives to other tenants is not in it. */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Wall and CPU seconds of `body`. */
  private def timed[A](body: => A): (Double, Double, A) = {
    val (t0, c0) = (System.nanoTime(), cpuS())
    val a = body
    (secs(t0), cpuS() - c0, a)
  }

  /** `graft.Bench`'s between-operation cleanup. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def err(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args)
    o.mode match {
      case "run" => run(o)
      case "record" => record(o)
      case "selftest" => SelfTest.run()
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** Workload inputs, operations and their expected digests. `gen`
    * regenerates the inputs and is timed per repetition. */
  private final case class Setup(gen: () => Unit, ops: () => Seq[Op],
      expected: Map[String, Digest], rows: Long)

  private def setupFor(spark: SparkSession, o: Opts): Setup = {
    val exp = Json.read(o.expected)
    def digests(section: String): Map[String, Digest] =
      Json.fields(exp.get(section)).map { case (k, v) => k -> Digest.parse(v.asText) }.toMap
    o.workload match {
      case "typecast" =>
        val path = s"${o.work}/typecast-table"
        Setup(() => Typecast.generate(spark, o.seed, TypecastRows, 2 * cores, path),
          () => Typecast.ops(spark, path, TypecastRows), digests("typecast"), TypecastRows)
      case "graph" | "sweep" =>
        val cost = Json.fields(exp.get("cost_s")).map { case (k, v) => k -> v.asDouble }.toMap
        val names = Queries.order(
          if (o.workload == "graph") Queries.Graph
          else Queries.sweep(graft.SparkEntry.queries.keys.toSeq, cost, SweepStride, SweepMaxCost),
          o.seed)
        Setup(() => (), () => Queries.ops(spark, o.data, names), digests("queries"), 0L)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  def run(o: Opts): Unit = {
    val (sessionS, sessionCpuS, spark) = timed(session(o.work))
    val sc = spark.sparkContext
    val setup = setupFor(spark, o)
    val gens = (1 to GenReps).map(_ => timed(setup.gen()))
    val ops = setup.ops()

    // correctness pass, which is also the warm-up: each op is built and
    // its result digested from its own physical plan, the code a noop
    // write of it runs
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val (checkS, checkCpuS, _) = timed {
      ops.foreach { op =>
        cleanup(spark)
        val (ok, detail) =
          try {
            val got = op.digest(op.build())
            val want = setup.expected.get(op.name)
            if (want.contains(got)) (true, "")
            else (false, s"digest $got, expected ${want.getOrElse("none recorded")}")
          } catch { case e: Throwable => (false, err(e)) }
        checks += ListMap("op" -> op.name, "ok" -> ok, "detail" -> detail)
      }
    }

    val tracer = new Tracer(sc)
    val opsOut = ArrayBuffer.empty[Map[String, Any]]
    val passesOut = ArrayBuffer.empty[Map[String, Any]]
    def runOp(op: Op, pass: Int, traced: Boolean): Boolean = {
      cleanup(spark)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var error = ""
      val root = if (traced) tracer.root() else -1L
      def step[A](name: String)(body: => A): A =
        if (traced) tracer.span(root, name)(body)._2 else body
      try {
        val df: DataFrame = step(Tracer.Build)(op.build())
        step(Tracer.Plan)(df.queryExecution.executedPlan)
        step(Tracer.Write)(df.write.format("noop").mode("overwrite").save())
      } catch { case e: Throwable => error = err(e) }
      val wall = secs(t0)
      val rec = ListMap[String, Any]("pass" -> pass, "traced" -> traced, "name" -> op.name,
        "group" -> op.group, "rows" -> op.rows, "wall_s" -> wall, "ok" -> error.isEmpty,
        "error" -> error)
      val layers =
        if (!traced) Map.empty[String, Any]
        else {
          val leaked = sc.getPersistentRDDs.size
          val endMs = System.currentTimeMillis()
          tracer.closeRoot(root, s"op:${op.name}", startMs, endMs)
          val l = tracer.layers(root, startMs, endMs, leaked)
          ListMap("build_s" -> l.buildS, "build_jobs" -> l.buildJobs, "plan_s" -> l.planS,
            "write_s" -> l.writeS, "jobs" -> l.jobs, "stages" -> l.stages, "tasks" -> l.tasks,
            "task_s" -> l.taskS, "cpu_s" -> l.cpuS, "gc_s" -> l.gcS, "input_mb" -> l.inputMb,
            "shuffle_read_mb" -> l.shuffleReadMb, "shuffle_write_mb" -> l.shuffleWriteMb,
            "spill_mb" -> l.spillMb, "nojob_s" -> l.nojobS, "leaked_rdds" -> l.leakedRdds)
        }
      opsOut += (rec ++ layers)
      error.isEmpty
    }

    // measured passes: whole passes, started while less than `seconds`
    // have elapsed. A traced run starts
    // with an untraced warm-up pass, then alternates traced and
    // untraced passes (at least one of each), so the tracing overhead
    // is measured in the same process between equally warm passes.
    val tMeasure = System.nanoTime()
    var pass = 0
    def need(traced: Boolean): Boolean =
      o.trace && !passesOut.exists(p => p("pass") != 0 && p("traced") == traced)
    while (secs(tMeasure) < o.seconds || need(true) || need(false)) {
      val traced = o.trace && pass % 2 == 1
      if (traced) sc.addSparkListener(tracer)
      val (wall, cpu, ok) = timed(ops.map(op => runOp(op, pass, traced)).forall(identity))
      passesOut += ListMap("pass" -> pass, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "ok" -> ok)
      if (traced) sc.removeSparkListener(tracer)
      pass += 1
    }
    val measureS = secs(tMeasure)

    val traceOut: Map[String, Any] =
      if (!o.trace) Map.empty
      else {
        val spansPath = s"${o.work}/trace-${o.workload}-${o.seed}.json"
        Json.write(spansPath, tracer.dump())
        ListMap("resolve_per_s" -> Typecast.resolveRate(o.seed, 200000),
          "unattributed_jobs" -> tracer.unattributed, "spans_file" -> spansPath)
      }
    Json.write(o.out, ListMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores, "trace" -> o.trace,
      "rows" -> setup.rows, "session_s" -> sessionS, "gen_s" -> gens.map(_._1),
      "check_s" -> checkS, "session_cpu_s" -> sessionCpuS, "gen_cpu_s" -> gens.map(_._2),
      "check_cpu_s" -> checkCpuS,
      "measure_s" -> measureS, "checks" -> checks, "passes" -> passesOut, "ops" -> opsOut,
      "peak_rss_mb" -> peakRssMb()) ++ traceOut)
    spark.stop()
  }

  /** Records the expected digests: every registered query on the
    * committed tables, and every `typecast` phase on the vocabulary.
    * Also records each query's warm cost, which stratifies `sweep`. */
  def record(o: Opts): Unit = {
    val spark = session(o.work)
    // costs already recorded stay: they fix the `sweep` subset, which
    // must not move when digests are re-recorded
    val known = if (o.expected.isEmpty || !new java.io.File(o.expected).exists) Map.empty[String, Double]
      else Json.fields(Json.read(o.expected).get("cost_s")).map { case (k, v) => k -> v.asDouble }.toMap
    val typecast = Typecast.vocabularyDigests(spark).map { case (n, d) => n -> d.toString }
    val queries = ArrayBuffer.empty[(String, String)]
    val costs = ArrayBuffer.empty[(String, Double)]
    val failed = ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        cleanup(spark)
        val d = Digest.of(fn(spark, o.data))
        val cost = known.getOrElse(name, {
          cleanup(spark)
          val t = timed(fn(spark, o.data).write.format("noop").mode("overwrite").save())._1
          math.round(t * 1000) / 1000.0
        })
        queries += name -> d.toString
        costs += name -> cost
        System.err.println(f"[record] $name%-32s $d  $cost%.3f s")
      } catch { case e: Throwable => failed += name; System.err.println(s"[record] $name FAILED ${err(e)}") }
    }
    Json.write(o.out, ListMap[String, Any](
      "typecast" -> ListMap(typecast: _*), "queries" -> ListMap(queries.toSeq: _*),
      "cost_s" -> ListMap(costs.toSeq: _*)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[record] failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
