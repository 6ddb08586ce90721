package graft

import graftperf.{Json, Typecast}
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Guards on the Java that whole-stage codegen generates for the
  * benchmark's 17 typecast phases and for the MinHash band stage of the
  * dedup queries (d6's `minhashPairs`):
  *   - a per-row phase's stage calls each parse kernel (or Spark's
  *     `conv()` converter) at most once per row — a cascade that
  *     re-evaluates its conversion shows up as repeated calls;
  *   - no generated method exceeds HotSpot's 8000-byte HugeMethodLimit,
  *     above which the JIT never compiles it. */
class CodegenGuardSpec extends AnyFunSuite {
  import TestSpark._

  private val HugeMethodLimit = 8000
  private val kernelCall =
    """(NumberConverter|graft\.expressions\.(\w+Kernel|RoundDiv))\.\w+\(""".r

  /** Every plan `body` executes through a Dataset action, plus the plan
    * of the frame it returns. */
  private def plansOf(body: => DataFrame): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val df = try body finally {
      ListenerBusDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    seen.synchronized(seen.toList) :+ df.queryExecution.executedPlan
  }

  /** (subtree, generated code, largest method in bytes) per stage. */
  private def stages(plans: Seq[SparkPlan]): Seq[(String, String, Int)] =
    plans.flatMap(codegenStringSeq).map { case (tree, code, stats) =>
      (tree, code, stats.maxMethodCodeSize)
    }

  private lazy val vocab = Typecast.vocabFrame(spark)

  for (p <- Typecast.phases) test(s"typecast phase ${p.name}: one kernel call per row, JIT-sized methods") {
    val st = stages(plansOf(p.run(vocab)))
    assert(st.nonEmpty, "no whole-stage-codegen stage")
    st.foreach { case (tree, code, maxMethod) =>
      assert(maxMethod <= HugeMethodLimit,
        s"a generated method of ${p.name} has $maxMethod bytes:\n$tree")
      if (p.perRow) {
        val calls = kernelCall.findAllMatchIn(code).map(_.matched).toSeq
        calls.groupBy(identity).foreach { case (call, n) =>
          assert(n.size <= 1, s"${p.name} calls $call ${n.size} times per row:\n$tree")
        }
      }
    }
  }

  test("d6's MinHash band stage: JIT-sized methods") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{concat, lit}
    // d6's input (the documents plus a perturbed copy, unioned) under
    // the MinHash index minhashPairs builds (id, sh, bands)
    val docs = Tables.t(spark, sf, "documents").select("doc_id", "text")
    val corpus = docs.union(docs.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zz qq")).as("text")))
    val banded = Dedup.leakageIndex(corpus, "doc_id", "text")
    val st = stages(plansOf(banded))
    assert(st.nonEmpty)
    st.foreach { case (tree, _, maxMethod) =>
      assert(maxMethod <= HugeMethodLimit, s"a band-stage method has $maxMethod bytes:\n$tree")
    }
  }
}

/** Every typecast phase over the benchmark's 4,096-entry vocabulary has
  * the digest recorded in perfbench/expected.json: kernel changes stay
  * bit-identical on the benchmark's inputs. */
class TypecastDigestSpec extends AnyFunSuite {
  import TestSpark._

  test("typecast phase digests match perfbench/expected.json") {
    val want = Json.fields(Json.read("perfbench/expected.json").get("typecast"))
      .map { case (k, v) => k -> v.asText }.toMap
    val got = Typecast.vocabularyDigests(spark).map { case (n, d) => n -> d.toString }.toMap
    assert(got.keySet == want.keySet)
    got.toSeq.sortBy(_._1).foreach { case (n, d) =>
      assert(d == want(n), s"$n: digest $d, expected ${want(n)}")
    }
  }
}
