package graft

import graft.syntax._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SyntaxSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("column castTo via spec mini-language") {
    val df = Seq(("42", "3.14", "yes")).toDF("i", "f", "b")
    val out = df.select(
      $"i".castTo("int32").as("i"),
      $"f".castTo("float64").as("f"),
      $"b".castTo("bool").as("b"))
    val r = out.head()
    assert(out.schema("i").dataType == IntegerType)
    assert(r.getInt(0) == 42 && r.getDouble(1) == 3.14 && r.getBoolean(2))
  }

  test("dataframe castColumns + downcastAll") {
    val li = Tables.t(spark, sf, "lineitem")
    val cast = li.castColumns("l_quantity" -> "int16")
    assert(cast.schema("l_quantity").dataType == ShortType)
    val down = li.downcastAll("l_quantity", "l_linenumber")
    assert(down.schema("l_quantity").dataType == ByteType)
  }

  test("dataframe detectTypes / typecheckAgainst") {
    val li = Tables.t(spark, sf, "lineitem")
    assert(li.detectTypes().toMap.apply("l_orderkey") == "int64")
    val tc = li.typecheckAgainst("l_orderkey" -> "int64", "l_quantity" -> "bool")
    assert(tc.find(_._1 == "l_orderkey").get._4)
    assert(!tc.find(_._1 == "l_quantity").get._4)
  }

  test("dedupExact keeps one row per distinct text") {
    val df = Seq((1L, "aa"), (2L, "aa"), (3L, "bb")).toDF("id", "text")
    val kept = df.dedupExact("id", "text").select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("SQL functions registered via GraftExtensions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_sorted_intersect_count(array(1L, 2L, 5L), array(2L, 3L, 5L)) AS c")
      .head()
    assert(r.getDouble(0) == 11.0 && r.getInt(1) == 2)
  }

  test("full kernel family callable from SQL") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  size(graft_minhash(array(1L, 2L, 3L), 16)) AS mh,
        |  graft_simhash(array(1L, 2L, 3L)) AS sh,
        |  size(graft_char_grams('abcd', 3)) AS cg,
        |  size(graft_word_shingles('a b c d', 3)) AS ws,
        |  graft_shingle_min_md5('a b c d', 3) AS fp,
        |  graft_lang_id('the cat and the dog it is', 'the cat and the dog it is') AS lang
        |""".stripMargin).head()
    assert(r.getInt(0) == 16)
    assert(r.getInt(2) == 2) // "abc", "bcd"
    assert(r.getInt(3) == 2) // "a b c", "b c d"
    assert(r.getLong(4) > 0)
    assert(r.getString(5) == "en")
  }

  test("SQL shape arguments past Int.MaxValue are rejected, not wrapped") {
    GraftExtensions.register(spark)
    val e = intercept[Exception](
      spark.sql("SELECT graft_minhash(array(1L, 2L, 3L), 5000000000) AS mh").collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("graft_minhash") && c.getMessage.contains("5000000000")), chain)
  }

  test("non-positive SQL shape arguments are rejected") {
    GraftExtensions.register(spark)
    for (sql <- Seq("graft_minhash(array(1L, 2L, 3L), -1)", "graft_minhash(array(1L), 0)",
        "graft_char_grams('abcd', 0)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $sql AS r").collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      val name = sql.takeWhile(_ != '(')
      assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains(name) && c.getMessage.contains("[1, 2147483647]")), s"$sql: $chain")
    }
  }

  test("withExtensions builder path registers functions") {
    // verify the SparkSessionExtensions wiring compiles & applies: use a
    // fresh session with the extension class name conf
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // no s2.stop(): it shares the JVM-wide SparkContext with TestSpark
    val d = s2.sql("SELECT graft_dot(array(1.0d), array(2.0d)) AS d").head().getDouble(0)
    assert(d == 2.0)
  }

  test("pipeline verbs: dedupNear, decontaminateAgainst, quota, mixture") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river", "a"),
      (2L, "the quick brown fox jumps over the lazy dog near the river", "a"),
      (3L, "entirely different text about distributed query planning", "a"),
      (4L, "spark catalyst tungsten whole stage codegen shuffles", "b")
    ).toDF("doc_id", "text", "source")
    val deduped = docs.dedupNear("doc_id", "text")
    assert(deduped.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val evalSet = Seq((9L, "entirely different text about distributed query planning"))
      .toDF("doc_id", "text")
    val clean = docs.decontaminateAgainst(evalSet, "doc_id", "text")
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 4L))
    assert(docs.quotaPerGroup("source", "doc_id", 2).count() == 3)
    val mixed = docs.sampleMixture("source", "doc_id", targetTotal = 100)
    assert(mixed.count() == 4) // rates clamp to 1 -> everything kept
  }

  test("pipeline verbs: dedupSemantic, kmeans, curated") {
    // two exact-duplicate directions + two distinct ones
    def basis(i: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f); v(i) = 1.0f; v
    }
    val vecs = Seq((1L, basis(0)), (2L, basis(0)), (3L, basis(1)),
      (4L, basis(2))).toDF("id", "vec")
    assert(vecs.dedupSemantic("id", "vec", nCells = 2)
      .select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val clusters = vecs.kmeans("id", "vec", k = 2, iters = 2)
    assert(clusters.count() == 4 &&
      clusters.select("cluster").distinct().count() == 2)

    val filler = (0 until 60)
      .map(i => s"the word$i and of to in is that it for").mkString(" ")
    val docs = Seq((1L, filler), (2L, filler), (3L, "12 34 " * 30))
      .toDF("doc_id", "text")
    val evalSet = Seq((9L, "nothing shared here")).toDF("doc_id", "text")
    // 2 drops as dup of 1; 3 drops on quality; 1 keeps
    assert(docs.curated(evalSet, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("round-6 verbs: mergeCdc, dedupLines, gopherQuality, dsirWeights, fuzzyJoin, trainBpe, pcaProject") {
    val snap = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val batch = Seq((1L, "U", "a2"), (3L, "I", "c")).toDF("k", "op", "v")
    assert(snap.mergeCdc(batch, "k").as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b"), (3L, "c")))

    val lined = Seq((1L, Seq("x", "y")), (2L, Seq("y", "z")))
      .toDF("id", "lines")
    val keeps = lined.dedupLines("id", "lines")
      .as[(Long, Int, String, Boolean)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    assert(keeps((1L, "y")) && !keeps((2L, "y")) && keeps((2L, "z")))

    val prose = ("the be to of and that have with " * 12).trim
    val g = Seq((1L, prose)).toDF("id", "text").gopherQuality("text")
    assert(g.select("keep").as[Boolean].head())

    val w = Seq((1L, "aa bb", true), (2L, "cc dd", false))
      .toDF("id", "text", "tgt")
    val dsir = w.dsirWeights("id", "text", $"tgt")
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r._3).toMap
    assert(dsir(1L) > dsir(2L)) // target grams score higher

    val left = Seq((1L, "abcdefgh")).toDF("a_id", "a_name")
    val right = Seq((10L, "abcdeXgh")).toDF("b_id", "b_name")
    assert(left.fuzzyJoin(right, "a_id", "a_name", "b_id", "b_name")
      .count() == 1)

    val (vocabDf, merges) = Seq((1L, "aaab aaab ab"))
      .toDF("id", "text").trainBpe("text", nMerges = 2)
    assert(merges.nonEmpty && vocabDf.count() == 2)

    val basis = (i: Int) => Array.tabulate(16)(j => if (j == i) 1.0f else 0.0f)
    val emb = (0 until 40).map(i =>
      (i.toLong, basis(0).map(_ * (i - 20) / 10.0f))).toDF("vec_id", "v")
    val pca = emb.pcaProject(Seq("vec_id"), "v")
    assert(pca.count() == 40 && pca.select("lam1").head().getDouble(0) > 0.0)
  }

  test("round-6b verbs: tfidf, bigramPerplexity, dedupUrls, knnGraph") {
    val docs = Seq((1L, "aa bb aa"), (2L, "bb cc bb cc")).toDF("id", "text")

    val tf = docs.tfidf("id", "text", vocabSize = 8)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(tf((1L, "aa")) == ((2L, 1L))) // tf=2 in doc 1, df=1
    assert(tf((1L, "bb")) == ((1L, 2L)) && tf((2L, "bb")) == ((2L, 2L)))

    val ppl = docs.bigramPerplexity("id", "text", uniVocab = 8, biVocab = 8)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(ppl.size == 2 && ppl.values.forall(_ > 0.0))

    val urls = Seq((1L, "HTTP://Ex.COM:80/a/?utm_source=x&b=1"),
      (2L, "http://ex.com/a?b=1")).toDF("id", "url")
    val ded = urls.dedupUrls("id", "url")
      .as[(String, Long, Long, Long)].collect()
    assert(ded.length == 1 && ded.head == (("http://ex.com/a?b=1", 1L, 2L, 2L)))

    val emb = (0 until 20).map { i =>
      val v = Array.fill(4)(0.0); v(i % 2) = 1.0 + 0.001 * i
      (i.toLong, v)
    }.toDF("vec_id", "v")
    val g = emb.knnGraph("vec_id", "v", k = 3, nCells = 2)
      .as[(Long, Long, Double, Int, Int)].collect()
    assert(g.nonEmpty && g.forall(e => e._1 < e._2 && e._1 % 2 == e._2 % 2))
  }

  test("pipeline verbs: searchBm25, filterByPerplexity, packInto") {
    val docs = Seq(
      (1L, "spark shuffle spark shuffle spark", "a"),
      (2L, "spark planner", "a"),
      (3L, "unrelated words entirely", "b")
    ).toDF("doc_id", "text", "source")
    val hits = docs.searchBm25("doc_id", "text", Seq("spark"), k = 1)
      .select("id").as[Long].collect()
    assert(hits.toSeq == Seq(1L)) // highest tf wins
    // doc 3's rare tokens give it the worst (highest) log-perplexity
    val ppls = graft.operators.TextAnalysis
      .unigramPerplexity(docs, "doc_id", "text", 64)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val kept = docs.filterByLnPerplexity("doc_id", "text",
        maxLnPpl = ppls(3L) - 0.001, vocabSize = 64)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
    // old-name shim takes PERPLEXITY units and must agree with the
    // nats entry point under exp/log round-trip
    val keptOld = docs.filterByPerplexity("doc_id", "text",
        maxPpl = math.exp(ppls(3L) - 0.001), vocabSize = 64)
      .select("doc_id").as[Long].collect().toSet
    assert(keptOld == kept)
    val packed = docs
      .withColumn("n_tok", size(split($"text", " ")))
      .packInto("doc_id", "source", "n_tok", capacity = 6)
      .as[(String, Long, Int, Long, Int, Boolean)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(packed(1L) == 0L && packed(2L) == 1L && packed(3L) == 0L)
  }

  test("forwarding verbs equal the operators they forward to") {
    import graft.functions.{Binning, Rounding}
    import graft.operators.{BpeTrainer, Curation, Sampling, VectorOps}
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    def same(verb: org.apache.spark.sql.DataFrame, op: org.apache.spark.sql.DataFrame): Unit = {
      val got = rows(verb)
      assert(got.nonEmpty && got == rows(op))
    }
    val xs = Seq((1L, "a", 2.25, -0.5, Seq(1.0, 2.0), Seq(0.5, -1.0)),
      (2L, "a", -1.75, 3.0, Seq(0.0, 0.0), Seq(1.0, 1.0)),
      (3L, "b", 0.125, 1.5, Seq(3.0, -4.0), Seq(3.0, 4.0)),
      (4L, "b", 7.5, 0.25, Seq(-2.0, 1.0), Seq(2.0, 0.5)))
      .toDF("id", "g", "x", "w", "u", "v")
    same(xs.select($"x".roundTo("half_even", 1)), xs.select(Rounding.roundFloat($"x", "half_even", 1)))
    same(xs.select($"x".snapTo(0.3)), xs.select(Rounding.snap($"x", 0.3)))
    same(xs.select($"u".dotWith($"v")), xs.select(VectorOps.dot($"u", $"v")))
    same(xs.select($"u".cosineWith($"v")), xs.select(VectorOps.cosine($"u", $"v")))
    same(xs.sampleWeighted("g", "id", $"w", 1),
      xs.join(Sampling.weightedSample(xs, "g", "id", $"w", 1).select("id"), Seq("id"), "left_semi"))
    same(xs.cutBins("x", 3), Binning.cut(xs, "x", 3))
    same(xs.qcutBins("x", 2), Binning.qcut(xs, "x", 2))
    val docs = Seq((1L, "low low low lower newest widest"), (2L, "low lower new newer"),
      (3L, "12 34 " * 30)).toDF("doc_id", "text")
    val evalSet = Seq((9L, "nothing shared here")).toDF("doc_id", "text")
    same(docs.encodeBpe("doc_id", "text", nMerges = 3), BpeTrainer.encode(docs, "doc_id", "text", 3))
    same(docs.curateAgainst(evalSet, "doc_id", "text", minTokens = 2),
      Curation.curate(docs, evalSet, "doc_id", "text", minTokens = 2))
  }
}

class VectorOpsExtraSpec extends org.scalatest.funsuite.AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.operators.VectorOps

  test("l2Normalize produces unit vectors; zero vectors pass through") {
    val df = Seq(Array(3.0, 4.0), Array(0.0, 0.0)).toDF("v")
      .withColumn("nv", VectorOps.norm($"v"))
      .withColumn("u", VectorOps.l2Normalize($"v", $"nv"))
    val rows = df.select(VectorOps.norm($"u")).as[Double].collect()
    assert(math.abs(rows(0) - 1.0) < 1e-12)
    assert(rows(1) == 0.0)
  }

  test("graph and histogram verbs compose on edge/value frames") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val pr = edges.pageRank(iters = 2).collect()
    assert(pr.length == 3)
    val d = edges.bfsFrom(Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d(3L) == 1L)
    val vals = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0))
      .toDF("g", "x")
    val hq = graft.operators.Sketches.histQuantiles(
      vals.histogram("g", "x", 1.0, 4.0, buckets = 16),
      1.0, 4.0, 16, Seq(0.5 -> "p50")).head()
    assert(hq.getString(0) == "a" && hq.getDouble(1) <= 2.0 + 1e-9)
  }

  test("graph and zorder verbs delegate to their operators") {
    import spark.implicits._
    // a 4-cycle with one chord: exactly 2 triangles, nodes 1/3 on both
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val tri = edges.triangleCounts().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    val zs = Seq((0L, 0L), (100L, 7L), (65535L, 9L))
      .toDF("a", "b").zorderStats("a", "b", 4)
    assert(zs.agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head().getLong(0) == 3L)
  }

  test("interval / silhouette / rrf verbs delegate to their operators") {
    import spark.implicits._
    // [0,10] ∪ [5,20] merge; [30,40] stands alone
    val iv = Seq((1L, 0L, 10L, 1L), (1L, 5L, 20L, 1L), (1L, 30L, 40L, 1L))
      .toDF("user_id", "ss", "ee", "n")
    val merged = iv.mergeIntervals().orderBy("m_start")
      .as[(Long, Long, Long, Long)].collect()
    assert(merged.toSeq == Seq((1L, 0L, 20L, 2L), (1L, 30L, 40L, 1L)))
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.fill(4)(0.0f).updated(i % 2, 3.0f + 0.01f * i)))
      .toDF("id", "vec")
    val sil = vecs.silhouette("id", "vec", k = 2, iters = 2).collect()
    assert(sil.length == 2 && sil.map(_.getLong(1)).sum == 12)
    val fused = Seq((10L, 1)).toDF("id", "rk")
      .rrfFuseWith(Seq((11L, 1)).toDF("id", "rk"), topK = 2)
    assert(fused.count() == 2)
  }

  test("skyline / stripHtml verbs delegate to their operators") {
    import spark.implicits._
    // (1,10) and (2,20) are both frontier; (2,5) is dominated by (1,10)
    val pts = Seq(("g", 1.0, 10L, 1L, 1L), ("g", 2.0, 20L, 1L, 2L),
      ("g", 2.0, 5L, 1L, 3L)).toDF("g", "x", "y", "n", "rep")
    val fr = pts.skyline("g", "x", "y")
      .select("x", "y").as[(Double, Long)].collect().toSet
    assert(fr == Set((1.0, 10L), (2.0, 20L)))
    val vis = Seq("<p>a</p> <b>b</b>").toDF("h")
      .stripHtml("h").select("visible").as[String].head()
    assert(vis == "a b")
  }

  test("subtreeRollup / countMinProbe verbs delegate to their operators") {
    import spark.implicits._
    // 1←2, 1←3: subtree(1) = {1,2,3}
    val edges = Seq((2L, 1L), (3L, 1L)).toDF("node", "parent")
    val vals = Seq((1L, BigDecimal(1)), (2L, BigDecimal(2)),
      (3L, BigDecimal(4))).toDF("node", "value")
    val r = edges.subtreeRollup(vals).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getDecimal(2).longValue()))
      .toMap
    assert(r(1L) == ((3L, 7L)) && r(2L) == ((1L, 2L)))
    val cms = Seq("a", "a", "b").toDF("tok").countMinProbe(seeds = 2,
      buckets = 16).collect().map(x => x.getString(0) -> x.getLong(2)).toMap
    assert(cms("a") >= 2L && cms("b") >= 1L)
    val qw = Seq((1, "x"), (2, "y")).toDF("a", "b")
      .queryWhere("a == 1 or b == 'z'").collect()
    assert(qw.length == 1 && qw.head.getInt(0) == 1)
  }

  test("sketch and vector aggregates callable from SQL") {
    GraftExtensions.register(spark)
    spark.range(0, 5000).toDF("v").createOrReplaceTempView("nums")
    val r = spark.sql(
      """SELECT graft_theta_estimate(graft_theta_sketch(CAST(v AS STRING), 256)) AS est,
        |  graft_vec_mean(array(CAST(v AS DOUBLE), 2.0d)) AS m,
        |  graft_hll_estimate(graft_hll_sketch(v)) AS hll
        |FROM nums""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 5000) / 5000 < 0.15)
    assert(r.getSeq[Double](1)(1) == 2.0)
    assert(math.abs(r.getSeq[Double](1)(0) - 2499.5) < 1e-6)
    assert(math.abs(r.getDouble(2) - 5000) / 5000 < 0.05)
  }

  test("evalAssign: arithmetic + boolean assignment; malformed input throws") {
    import spark.implicits._
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val out = df.evalAssign("c = a + b * 2").evalAssign("hot = c > 8")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.toSet == Set((1L, 5L, false), (3L, 11L, true)))
    // '=' inside == never splits; a bare comparison is not an assignment
    intercept[IllegalArgumentException](df.evalAssign("a == 1"))
    intercept[IllegalArgumentException](df.evalAssign("1x = a"))
    intercept[IllegalArgumentException](df.evalAssign("c = a +"))
  }

  test("evalAssign multi-statement: later statements see earlier targets") {
    import spark.implicits._
    val df = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    // pandas multi-line eval: newline-separated, blank lines ignored
    val out = df.evalAssign("c = a + b\n\n  d = c * 2\nhot = d >= 12")
      .collect().map(r =>
        (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.toSet == Set((1L, 3L, 6L, false), (3L, 7L, 14L, true)))
    intercept[IllegalArgumentException](df.evalAssign("   \n  "))
    // one malformed statement fails the whole program
    intercept[IllegalArgumentException](df.evalAssign("c = a\nd ="))
  }

  test("query grammar: Python %, //, right-assoc **, malformed numbers") {
    import spark.implicits._
    val df = Seq(-7L, -1L, 0L, 3L, 7L).toDF("x")
    // Python modulo: result takes the divisor's sign (-7 % 3 == 2)
    val m = df.queryWhere("x % 3 == 2").collect().map(_.getLong(0)).toSet
    assert(m == Set(-7L, -1L))
    // Python floor division: -7 // 2 == -4 (floor, not truncation)
    val fd = df.queryWhere("x // 2 == -4").collect().map(_.getLong(0)).toSet
    assert(fd == Set(-7L))
    // '**' over unary minus and right-assoc: -2**2 = -4, 2**3**2 = 512
    val p = df.evalAssign("y = -2 ** 2\nz = 2 ** 3 ** 2\nw = x ** 2")
      .filter($"x" === 3L).head()
    assert(p.getDouble(1) == -4.0 && p.getDouble(2) == 512.0 &&
      p.getDouble(3) == 9.0)
    // multi-dot numbers fail in the tokenizer with position context,
    // not as a bare NumberFormatException from toDouble
    val e = intercept[IllegalArgumentException](df.queryWhere("x > 1.2.3"))
    assert(e.getMessage.contains("malformed number") &&
      e.getMessage.contains("position"))
    // NEGATIVE divisors: % keeps Python's divisor-sign result both
    // ways — 7 % -3 = -2, -7 % -3 = -1 (pmod would give 1 and 2);
    // Math.floorMod pins the same semantics independently
    val nd = df.queryWhere("x % -3 == -2").collect().map(_.getLong(0)).toSet
    assert(nd == Set(-7L, -1L, 0L, 3L, 7L)
      .filter(v => Math.floorMod(v, -3L) == -2L))
    assert(df.queryWhere("7 % -3 == -2 and -7 % -3 == -1 and " +
      "7.5 % -2 == -0.5 and -7.5 % 2 == 0.5").count() == df.count())
    // scientific-notation literals are Python floats: 1e1 = 10.0,
    // 5E-1 = 0.5, 2.5e0 = 2.5 — and a bare exponent is malformed
    assert(df.queryWhere("x > 1e0").collect().map(_.getLong(0)).toSet ==
      Set(3L, 7L))
    assert(df.queryWhere("x * 5E-1 >= 3.5").collect()
      .map(_.getLong(0)).toSet == Set(7L))
    val e2 = intercept[IllegalArgumentException](df.queryWhere("x > 1e"))
    assert(e2.getMessage.contains("malformed number"))
    val e3 = intercept[IllegalArgumentException](df.queryWhere("x > 2.5e+"))
    assert(e3.getMessage.contains("malformed number"))
    val e4 = intercept[IllegalArgumentException](df.queryWhere("x > 1everything"))
    assert(e4.getMessage.contains("malformed number"))
  }

  test("vocabGrowth / embeddingDiversity / pcaExplainedVariance verbs delegate") {
    import spark.implicits._
    val vg = Seq((0L, "a b"), (1L, "a c")).toDF("doc_id", "text")
      .vocabGrowth(nBuckets = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    assert(vg(0L) == 2L && vg(1L) == 3L) // {a,b} then +{c}
    val dv = Seq((0, Array(0.0f, 0.0f)), (0, Array(2.0f, 0.0f)))
      .toDF("label", "embedding")
      .embeddingDiversity(dim = 2).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(dv("0") == 4.0 && dv("all") == 4.0)
    val pv = Seq.tabulate(64)(i =>
        Array.tabulate(16)(d => if (d == 0) (i - 32) / 10.0f else 0.0f))
      .toDF("embedding")
      .pcaExplainedVariance().collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(pv("pc1") > 0.999)
  }

  test("dupSubstrings / dedupSubstrings verbs delegate to the d20/d21 kernels") {
    import spark.implicits._
    val base = (0 until 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(1L -> base, 2L -> base, 3L -> ("zz " + base))
      .toDF("doc_id", "text")
    val spans = docs.dupSubstrings("doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(spans.contains((1L, 2L, 0L, 0L, 20L)))
    assert(spans.contains((1L, 3L, 0L, 1L, 20L)))
    val kept = docs.dedupSubstrings("doc_id", "text")
      .select("id", "kept_text").as[(Long, String)].collect().toMap
    assert(kept(1L) == base && kept(2L) == "" && kept(3L) == "zz")
  }

  test("grouped / owned substring verbs delegate to the d22/d23 kernels") {
    import spark.implicits._
    val base = (0 until 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(1L -> base, 2L -> base, 3L -> ("zz " + base))
      .toDF("doc_id", "text")
    // docs 1/2 collapse to rep 1 (gsz 2): full-doc row with C(2,2)=1
    // pair + a cross row against singleton 3 with multiplicity 2
    val grouped = docs.dupSubstringsGrouped("doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(grouped == Set(
      (1L, 1L, 0L, 0L, 20L, 1L), // full-document span of the identical pair
      (1L, 3L, 0L, 1L, 20L, 2L))) // rep 1 vs 3, carried for both members
    val kept = docs.dedupSubstringsOwned("doc_id", "text")
      .select("id", "kept_text").as[(Long, String)].collect().toMap
    assert(kept(1L) == base && kept(2L) == "" && kept(3L) == "zz")
  }
}
