package graft

import org.apache.spark.sql.graft.PlanBridge

/** Dev tool: dump a registered query's plans to a file for offline
  * inspection (lambda-inlining audits, exchange counts, pushdown
  * checks). Not part of the library.
  *
  * The terminal optimized + executed plan is followed by the optimized
  * plan of every frame the query settled while it was built, as
  * recorded before its checkpoint ([[Settle.capture]]) — the work a
  * checkpoint scan hides from the terminal plan (BFS rounds, CC rounds
  * past their driver bound, the triangle close, sweep arms) — and by
  * that plan's physical form, which shows where exchanges sit.
  *
  * Usage: runMain graft.PlanDump <queryName> <sfDir> <outFile>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: runMain graft.PlanDump <queryName> <sfDir> <outFile>")
      sys.exit(2)
    }
    val Array(name, sfDir, outFile) = args.take(3)
    val spark = GraftSession.local("graft-plandump")
    val (df, settled) = Settle.capture(SparkEntry.queries(name)(spark, sfDir))
    val txt = new StringBuilder
    txt ++= "== OPTIMIZED ==\n" ++= df.queryExecution.optimizedPlan.toString
    txt ++= "\n== PHYSICAL ==\n" ++= df.queryExecution.executedPlan.toString
    settled.zipWithIndex.foreach { case (s, i) =>
      txt ++= s"\n== SETTLED ${i + 1}/${settled.size}: ${s.label}/${s.phase} (optimized, before its checkpoint) ==\n"
      txt ++= s.plan.toString
      txt ++= s"== SETTLED ${i + 1}/${settled.size}: physical, as planned before any stage ran ==\n"
      txt ++= PlanBridge.ofRows(spark, s.plan).queryExecution.executedPlan.toString
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(outFile),
      txt.toString)
    println(s"[plandump] wrote $outFile (${settled.size} settled frames)")
    spark.stop()
  }
}
