package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river shore"), // near dup
    (4L, "completely different content about spark distributed query engines"),
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(g.length == 3)
    assert(g.head.getAs[Long]("keep_id") == 1L)
    assert(g.head.getAs[Long]("n_copies") == 2L)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash jaccard of identical docs is 1.0") {
    val j = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .select("jaccard").as[Double].head()
    assert(j == 1.0)
  }

  test("simhash: identical docs distance 0; near dups small distance") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("ngram jaccard within blocks") {
    val pairs = Dedup.ngramJaccardPairs(
      docs.withColumn("blk", lit(1)), "doc_id", "text",
      blockCols = Seq(col("blk")), threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._2 == 4L))
  }

  test("embedding dup pairs respect threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)), // ~cos 0.999
      (3L, Array(0.0f, 1.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDupPairs(vecs, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("banded LSH embedding dedup == exact all-pairs twin (differential)") {
    val base = Tables.t(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
    val all = base.union(base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", x => x * 0.98 + 0.02).as("embedding")))
    val lsh = Dedup.embeddingDupPairs(all, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingDupPairs(all, "vec_id", "embedding", 0.9, bands = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("minhash LSH == exact all-pairs shingle jaccard (differential)") {
    // corpus with planted exact+near dups; exact twin brute-forces every
    // pair's shingle jaccard. Hashes/permutations are seeded, so this
    // equality is deterministic — LSH banding loses nothing here, down
    // to the weakest organic pair (j = 0.615).
    val base = Tables.t(spark, sf, "documents").select($"doc_id", $"text")
    val all = base.union(base.select(($"doc_id" + 1000000L).as("doc_id"),
      concat($"text", lit(" zz qq")).as("text")))
    val lsh = Dedup.minhashPairs(all, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sh = all.select($"doc_id".as("id"), Dedup.shingleHashes($"text").as("sh")).persist()
    val common = graft.expressions.Kernels.sortedIntersectCount($"a.sh", $"b.sh").cast("double")
    val exact = sh.as("a").join(sh.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        (common / (size($"a.sh") + size($"b.sh") - common)).as("j"))
      .filter($"j" >= 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    sh.unpersist()
    assert(exact.size > 500)
    assert(lsh == exact)
  }

  test("blocked-gram pairs stay inside a block whose parts concatenate alike") {
    // a key joined from the parts skips null parts and cannot tell a
    // separator inside a part from one between parts: ("x", null) and
    // (null, "x") are different blocks, and so are ("a\u0001b", "c")
    // and ("a", "b\u0001c"); the same two texts in one block pair up
    val text = "the same words in both rows of this small block test"
    def rows(b1: (String, String), b2: (String, String)) =
      Seq((1L, text, b1._1, b1._2), (2L, text, b2._1, b2._2)).toDF("doc_id", "text", "s", "p")
    val blocks = Seq(col("s"), col("p"))
    Seq(rows(("x", null), (null, "x")) -> 0L,
      rows(("a\u0001b", "c"), ("a", "b\u0001c")) -> 0L,
      rows(("ab", "c"), ("ab", "c")) -> 1L).foreach { case (df, want) =>
      assert(Dedup.containmentPairs(df, "doc_id", "text", blocks).count() == want)
      assert(Dedup.ngramJaccardPairs(df, "doc_id", "text", blocks).count() == want)
      assert(Dedup.kmvCalibrationPairs(df, "doc_id", "text", blocks).count() == want)
    }
  }

  test("decontamination flags docs sharing a 13-gram with the eval set") {
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron"
    val evalSet = Seq((100L, evalDoc)).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words " + evalDoc + " suffix words"), // embeds the eval text
      (2L, "totally unrelated content about query engines and shuffles " +
        "with many more words than thirteen in this clean document here"),
      (3L, evalDoc)                                      // verbatim eval copy
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, evalSet, "doc_id", "text", w = 13)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 && got(1L)._2 >= 1) // shares interior 13-grams
    assert(got(2L) == ((2L, 0L, false)))
    assert(got(3L)._3 && got(3L)._2 == 3) // 15 words -> 3 shared 13-grams
  }

  test("short docs decontaminate on the whole-text partial gram") {
    val evalSet = Seq((100L, "short secret answer")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "short secret answer"),     // exact short match
      (2L, "short secret answers")     // differs -> different partial gram
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, evalSet, "doc_id", "text", w = 13)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, true)))
    assert(got(2L) == ((2L, 0L, false)))
  }

  test("bloom dedup audit == sequential filter simulation (forced collisions)") {
    // 16 bits / 2 hashes over 40 docs (half exact dups) saturates the
    // filter — false positives GUARANTEED, so the brute-force
    // sequential replay exercises every verdict branch.
    val m = 16; val k = 2
    val corpus = (0 until 20).flatMap { i =>
      val t = s"document number $i about topic ${i % 5}"
      Seq((i.toLong, t, s"src${i % 2}"), (i + 100L, t, s"src${i % 2}"))
    }.toDF("doc_id", "text", "source")
    // driver-side sequential bloom: check-then-insert in id order
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    def positions(dg: String): Seq[Long] =
      (0 until k).map(j =>
        java.lang.Long.parseLong(md5hex(s"$j|$dg").take(15), 16) % m)
    val rows = corpus.select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val bits = scala.collection.mutable.Set.empty[Long]
    val seen = scala.collection.mutable.Set.empty[String]
    var exp = Map.empty[String, (Long, Long, Long, Long)]
    rows.foreach { case (_, text, src) =>
      val dg = md5hex(text.toLowerCase.trim.replaceAll("\\s+", " "))
      val ps = positions(dg)
      val fl = ps.forall(bits.contains)
      val dup = seen.contains(dg)
      val (a, b, c, d) = exp.getOrElse(src, (0L, 0L, 0L, 0L))
      exp += src -> (a + 1, b + (if (dup) 1 else 0),
        c + (if (fl) 1 else 0), d + (if (fl && !dup) 1 else 0))
      bits ++= ps; seen += dg
    }
    val got = Dedup.bloomDedupAudit(corpus, "doc_id", "text", "source",
      mBits = m, kHash = k).collect()
    got.foreach { r =>
      val (nd, ntd, nf, nfp) = exp(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd && r.getAs[Long]("n_true_dup") == ntd)
      assert(r.getAs[Long]("n_flagged") == nf, s"flagged ${r}")
      assert(r.getAs[Long]("n_false_pos") == nfp, s"fp ${r}")
      // no false negatives, structurally: flagged covers every true dup
      assert(r.getAs[Long]("n_flagged") >= r.getAs[Long]("n_true_dup"))
      assert(r.getAs[Long]("bits_set") == bits.size.toLong)
      assert(r.getAs[Double]("fill_frac") == bits.size.toDouble / m)
    }
    // the tiny filter really did saturate into false positives
    assert(got.map(_.getAs[Long]("n_false_pos")).sum > 0)
  }
}

class SamplingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("groupQuota keeps min(n, group size) rows in stable md5 order") {
    val rows = (0L until 30L).map(i => ("big", i)) ++
      (100L until 102L).map(i => ("small", i)) ++
      (200L until 204L).map(i => ("edge", i))
    val df = rows.toDF("source", "doc_id")
    val got = Sampling.groupQuota(df, "source", "doc_id", n = 4)
      .as[(String, Long, Int)].collect()
    val bySrc = got.groupBy(_._1)
    assert(bySrc("big").length == 4)
    assert(bySrc("small").length == 2)
    assert(bySrc("edge").length == 4)
    // expected order: ascending md5-prefix of the id, ties impossible
    def md5Key(i: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
    val expectBig = (0L until 30L).sortBy(md5Key).take(4)
    assert(bySrc("big").sortBy(_._3).map(_._2).toSeq == expectBig)
    // repartitioning must not change the sample
    val again = Sampling.groupQuota(df.repartition(13), "source", "doc_id", 4)
      .as[(String, Long, Int)].collect().toSet
    assert(again == got.toSet)
  }

  test("mixtureSample flattens the mix; rates clamp; coin is stable") {
    val rows = (0 until 90).map(i => ("big", i.toLong)) ++
      (0 until 10).map(i => ("small", 1000L + i))
    val df = rows.toDF("source", "doc_id")
    val out = Sampling.mixtureSample(df, "source", "doc_id",
        targetTotal = 20, alpha = 0.0)
      .as[(String, Long, Double, Boolean)].collect()
    assert(out.length == 100)
    // alpha=0 targets 10 per group: big keeps at 10/90, small clamps to 1
    val rates = out.groupBy(_._1).map { case (g, v) => g -> v.head._3 }
    assert(math.abs(rates("big") - 10.0 / 90) < 1e-6)
    assert(rates("small") == 1.0)
    assert(out.filter(_._1 == "small").forall(_._4))
    // alpha=1 preserves the natural mix: one global rate for everyone
    val nat = Sampling.mixtureSample(df, "source", "doc_id", 20, alpha = 1.0)
      .as[(String, Long, Double, Boolean)].collect()
    assert(nat.map(_._3).distinct.toSeq == Seq(0.2))
    // the md5 coin is partitioning-independent
    val again = Sampling.mixtureSample(df.repartition(7), "source", "doc_id",
        20, alpha = 0.0)
      .as[(String, Long, Double, Boolean)].collect().toSet
    assert(again == out.toSet)
  }

  test("weightedSample biases toward heavy rows, excludes w<=0, is layout-stable") {
    import org.apache.spark.sql.functions._
    // weights 1..200 in one group: a k=40 sequential Poisson sample
    // must overrepresent the heavy tail
    val df = (1L to 200L).map(i => ("g", i, i.toDouble)).toDF("src", "id", "wt")
    val got = Sampling.weightedSample(df, "src", "id", col("wt"), k = 40)
      .as[(String, Long, Double, Double)].collect()
    assert(got.length == 40)
    val meanW = got.map(_._3).sum / got.length
    assert(meanW > 120.0, s"sample mean weight $meanW not biased above 100.5")
    // zero/negative weights never selected
    val withBad = df.union(Seq(("g", 900L, 0.0), ("g", 901L, -3.0))
      .toDF("src", "id", "wt"))
    val ids = Sampling.weightedSample(withBad, "src", "id", col("wt"), 300)
      .as[(String, Long, Double, Double)].collect().map(_._2).toSet
    assert(!ids(900L) && !ids(901L) && ids.size == 200)
    // partitioning-independent selection
    val again = Sampling.weightedSample(df.repartition(7), "src", "id",
        col("wt"), 40)
      .as[(String, Long, Double, Double)].collect().toSet
    assert(again == got.toSet)
  }
}

class PackingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("greedy first-fit-in-order bins; oversize isolated; partition-stable") {
    // src a, capacity 10, id order: 4,4,3,12,2,10,1
    //   bin0=[4,4] (fill 8, 3 doesn't fit... wait 8+3>10 -> yes new bin)
    //   bin1=[3], 12 oversize -> bin2=[12], bin3=[2], 10 fits? 2+10>10 -> bin4=[10]
    //   1 fits? 10+1>10 -> bin5=[1]
    val rows = Seq(("a", 1L, 4), ("a", 2L, 4), ("a", 3L, 3), ("a", 4L, 12),
      ("a", 5L, 2), ("a", 6L, 10), ("a", 7L, 1), ("b", 10L, 5), ("b", 11L, 5))
    val df = rows.toDF("source", "doc_id", "n_tok")
    val got = Packing.packGreedy(df, "doc_id", "source", "n_tok", capacity = 10)
      .as[(String, Long, Int, Long, Int, Boolean)].collect()
      .sortBy(r => (r._1, r._2))
    val a = got.filter(_._1 == "a").map(r => (r._4, r._5, r._6)).toSeq
    assert(a == Seq((0L, 0, false), (0L, 1, false), (1L, 0, false),
      (2L, 0, true), (3L, 0, false), (4L, 0, false), (5L, 0, false)))
    // b: [5,5] fills one bin exactly
    assert(got.filter(_._1 == "b").map(r => (r._4, r._5)).toSeq ==
      Seq((0L, 0), (0L, 1)))
    // input partitioning must not change the packing (secondary sort)
    val again = Packing.packGreedy(df.repartition(7), "doc_id", "source",
        "n_tok", capacity = 10)
      .as[(String, Long, Int, Long, Int, Boolean)].collect().toSet
    assert(again == got.toSet)
    // exactly one exchange: the groupBy-key shuffle
    val plan = Packing.packGreedy(df, "doc_id", "source", "n_tok", 10)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1,
      s"packing needs one shuffle only:\n$plan")
    val stats = Packing.binStats(
      Packing.packGreedy(df, "doc_id", "source", "n_tok", 10), 10)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(stats(("a", 0L)) == ((2L, 8L, 2L)))
    assert(stats(("a", 2L)) == ((1L, 12L, 0L))) // oversize: waste clamps to 0
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("brute top-k ranks by cosine and LSH recalls most of top-k") {
    val emb = Tables.t(spark, sf, "embeddings")
    val queries = emb.filter($"vec_id" < 3)
    val brute = Similarity.bruteTopK(emb, queries, 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(brute.size == 30)
    val lsh = Similarity.lshTopK(emb, queries, 10, bits = 8, dim = 64)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty)
    // near-uniform random vectors are sign-LSH's worst case; Hamming≤2
    // multi-probe scans ~14% of buckets and holds 33% top-10 recall
    // here (deterministic hyperplanes — pinned with margin)
    val recall = brute.intersect(lsh).size.toDouble / brute.size
    assert(recall >= 0.25, s"s2 recall regressed: $recall")
  }

  test("twoNN intrinsic dim == driver brute-force replay; dups accounted") {
    // 24 points on a unit circle in 3D (distinct angles) + one exact
    // duplicate pair; nCells = 1 → the cell top-2 IS the global top-2,
    // so a driver-side all-pairs replay is a true differential oracle
    val pts = (0 until 24).map { i =>
      val th = 0.37 * i
      (i.toLong, Array(math.cos(th).toFloat, math.sin(th).toFloat, 0.1f))
    } ++ Seq( // exact-twin pair: axis vectors make cos == 1.0 exactly
      (50L, Array(1.0f, 0.0f, 0.0f)), (100L, Array(1.0f, 0.0f, 0.0f)))
    val df = pts.toDF("vec_id", "embedding")
    val got = Similarity.twoNnIntrinsicDim(df, "vec_id", "embedding",
      nCells = 1).collect().head
    // driver replay: same cosine, same top-2 (cos desc, id asc), same
    // round6→micros→exact-sum→pinned-division chain
    val v = pts.map { case (id, a) => id -> a.map(_.toDouble) }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val n = math.sqrt(na) * math.sqrt(nb)
      if (n == 0.0) 0.0 else d / n
    }
    var nUsed = 0L; var nDup = 0L; var sum = 0L
    v.keys.foreach { q =>
      val top = v.keys.filter(_ != q).toSeq
        .map(o => (cos(v(q), v(o)), o)).sortBy(t => (-t._1, t._2)).take(2)
      val d1 = 1.0 - top(0)._1; val d2 = 1.0 - top(1)._1
      if (d1 <= 0.0) nDup += 1
      else {
        nUsed += 1
        sum += (BigDecimal(math.log(d2 / d1))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
      }
    }
    assert(got.getAs[Long]("n_points") == 26L)
    assert(got.getAs[Long]("n_dup") == nDup && nDup == 2L) // both twins
    assert(got.getAs[Long]("n_used") == nUsed)
    assert(got.getAs[Long]("sum_lnmu_e6") == sum)
    val expected = nUsed.toDouble / (sum.toDouble / 1000000.0)
    assert(got.getAs[Double]("id_twonn") == expected)
  }
}

class TextAnalysisSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("langId picks profile languages + cjk") {
    val df = Seq(
      "the cat and the dog went to the park and it is good for you",
      "der hund ist nicht mit der katze und das ist ein problem von",
      "el perro y el gato que en la casa para con un amigo por",
      "中文文本内容测试文档",
    ).toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "zh"))
  }

  test("token counts: ws vs bpe-ish") {
    val df = Seq("Hello world, 42 tokens!").toDF("text")
    val r = df.select(TextAnalysis.wsTokenCount($"text").as("ws"),
      TextAnalysis.bpeishTokenCount($"text").as("bp")).head()
    assert(r.getInt(0) == 4)
    // Hello, world, ',', 42, tokens, '!' → 6
    assert(r.getInt(1) == 6)
  }

  test("htmlVisible: script drop, tag strip, pinned entity order, ws collapse") {
    val html = "<html><script>var x=1;</script><p>A &amp;lt; B</p>" +
      "<nav><a href=\"/x\">Go  home</a></nav>  <b>&quot;hi&#39;s&quot;</b></html>"
    val df = Seq(html).toDF("h")
    val vis = df.select(TextAnalysis.htmlVisible($"h")).as[String].head()
    // &amp;lt; decodes to the LITERAL "&lt;" (amp last, single pass);
    // script content gone; all whitespace runs collapsed
    assert(vis == "A &lt; B Go home \"hi's\"", s"got [$vis]")
    val r = df.select(TextAnalysis.tagCount($"h").as("t"),
      TextAnalysis.linkChars($"h").as("lc")).head()
    assert(r.getInt(0) == 12, s"tags ${r.getInt(0)}")
    assert(r.getInt(1) == "Go  home".length, s"linkChars ${r.getInt(1)}")
  }

  test("fingerprint stable under identical text, differs otherwise") {
    val df = Seq("a b c d e f", "a b c d e f", "x y z w v u").toDF("text")
    val fps = df.select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("min-shingle fingerprint survives a small suffix edit") {
    val df = Seq("one two three four five six seven eight nine ten",
      "one two three four five six seven eight nine ten eleven").toDF("text")
    val fps = df.select(TextAnalysis.minShingleFingerprint($"text")).as[Long].collect()
    assert(fps(0) == fps(1)) // min over mostly-shared shingle set
  }

  test("repetition signals: degenerate loop text vs varied text") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),      // 6x one token
      (2L, "one two three four five six seven"),  // all distinct
      (3L, "ab cd ab cd ab cd ab cd ab cd")       // bigram loop
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Int, Double, Double, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    // doc 1: top token 6/6, every bigram slot "spam spam", both
    // 5-grams identical -> dup frac 1 - 1/2
    assert(got(1L) == ((1L, 6, 1.0, 1.0, 0.5, true)))
    // doc 2: everything unique, nothing repeats
    assert(got(2L) == ((2L, 7, round6(1.0 / 7), round6(1.0 / 6), 0.0, false)))
    // doc 3: "ab" 5x of 10, "ab cd" 5x of 9 slots, 5-grams cycle with
    // period 2 -> only 2 distinct of 6
    val d3 = got(3L)
    assert(d3._2 == 10 && d3._3 == 0.5 && d3._4 == round6(5.0 / 9))
    assert(d3._5 == round6(1.0 - 2.0 / 6) && d3._6)
  }

  test("repetition kernel edges: empty, single, sub-5-gram docs; plan is shuffle-free") {
    import graft.expressions.RepetitionKernel
    import org.apache.spark.unsafe.types.UTF8String
    def k(s: String) = {
      val r = RepetitionKernel.compute(UTF8String.fromString(s))
      (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))
    }
    assert(k("") == ((1, 1, 0, 0.0)))            // split("") -> [""], like SQL
    assert(k("solo") == ((1, 1, 0, 0.0)))
    assert(k("a b a") == ((3, 2, 1, 0.0)))       // "a b" vs "b a": tie -> 1
    assert(k("a b c d") == ((4, 1, 1, 0.0)))     // 4 toks: no 5-gram lane
    assert(k("a b c d e") == ((5, 1, 1, 0.0)))   // exactly one 5-gram, distinct
    val plan = TextAnalysis.repetitionSignals(
        Seq((1L, "x y z")).toDF("doc_id", "text"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"per-doc stats must not shuffle:\n$plan")
  }

  test("repetition + term-count kernels match a naive reimplementation on random docs") {
    import graft.expressions.{RepetitionKernel, TermCountsKernel}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "bb", "ccc", "dd", "e")
    for (_ <- 1 to 200) {
      val toks = Array.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length)))
      val doc = toks.mkString(" ")
      // naive mode counts
      val uni = toks.groupBy(identity).values.map(_.length).maxOption.getOrElse(0)
      val bis = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val bi = bis.groupBy(identity).values.map(_.length).maxOption.getOrElse(0)
      val g5 = toks.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
      val dup5 = if (g5.isEmpty) 0.0 else 1.0 - g5.distinct.size.toDouble / g5.size
      val r = RepetitionKernel.compute(UTF8String.fromString(doc))
      // split("") yields one empty token — mirror that in the naive side
      val nTok = if (toks.isEmpty) 1 else toks.length
      val expUni = if (toks.isEmpty) 1 else uni
      assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)) ==
        ((nTok, expUni, bi, dup5)), s"doc='$doc'")
      // term counts vs naive count (same split-"" tokenization)
      val splitToks = if (toks.isEmpty) Array("") else toks
      val terms = Seq("a", "ccc", "zz")
      val arr = new GenericArrayData(splitToks.map(UTF8String.fromString))
      val counts = TermCountsKernel(terms).compute(arr)
      terms.indices.foreach { j =>
        assert(counts.getInt(j) == splitToks.count(_ == terms(j)),
          s"term ${terms(j)} in doc='$doc'")
      }
    }
  }

  test("unigram perplexity: hand-computed, OOV floor, partition-stable") {
    // corpus: "a a a b" + "a b c" -> counts a=4 b=2 c=1, total 7
    val docs = Seq((1L, "a a a b"), (2L, "a b c")).toDF("doc_id", "text")
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lp(p: Double) = r(math.log(p), 9)
    // vocabSize=2 -> vocab {a,b}; c is OOV -> p = 0.5/7
    // ln_ppl = −mean of the 9-dp ln p grid (nats/token — no terminal exp)
    val e1 = r(-((lp(4.0 / 7) * 3 + lp(2.0 / 7)) / 4), 6)
    val e2 = r(-((lp(4.0 / 7) + lp(2.0 / 7) + lp(0.5 / 7)) / 3), 6)
    val got = TextAnalysis.unigramPerplexity(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(4L, 3L))
    assert(got(0)._3 == e1, s"doc1 ln_ppl ${got(0)._3} != $e1")
    assert(got(1)._3 == e2, s"doc2 ln_ppl ${got(1)._3} != $e2")
    // rarer tokens -> higher perplexity
    assert(got(1)._3 > got(0)._3)
    val again = TextAnalysis.unigramPerplexity(docs.repartition(5),
        "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(again == got.toSet)
  }

  test("winnowing: differential vs brute force, rightmost ties, overlap under prefix shift") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def brute(text: String, k: Int = 4, w: Int = 5): Set[(Long, Long)] = {
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
      if (toks.size < k + w - 1) Set.empty
      else {
        val hs = (0 to toks.size - k).map(i => java.lang.Long.parseLong(
          md5hex(toks.slice(i, i + k).mkString(" ")).take(15), 16))
        (0 to hs.size - w).map { s =>
          var bh = Long.MaxValue; var bp = -1L
          for (j <- s until s + w) if (hs(j) <= bh) { bh = hs(j); bp = j }
          (bp, bh) // rightmost minimal — the robust-winnowing rule
        }.toSet
      }
    }
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog and then the quick brown fox naps",
      2L -> "aa bb cc dd ee ff gg hh ii jj kk ll",
      3L -> "too short here",
      4L -> ("word " * 12).trim) // max-degenerate: all grams identical
    val got = TextAnalysis.winnow(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    texts.foreach { case (id, tx) =>
      val exp = brute(tx)
      assert(got.getOrElse(id, Set.empty) == exp, s"doc $id diverged")
    }
    assert(!got.contains(3L)) // below k+w−1 tokens: no window, no rows
    // doc 4: every gram hash equal → rightmost rule selects the LAST
    // position of each window → w+k−1-sliding selections, one hash
    assert(got(4L).map(_._2).size == 1)
    // locality guarantee: a 3-token prefix insertion shifts positions
    // but the shared suffix grams keep their HASHES — overlap stays high
    val a = texts.head._2
    val shifted = "xx yy zz " + a
    val fa = brute(a).map(_._2)
    val fb = brute(shifted).map(_._2)
    assert((fa intersect fb).size.toDouble >= 0.7 * fa.size,
      s"local overlap broke: ${(fa intersect fb).size}/${fa.size}")
  }

  test("rake: differential vs brute-force reference, hand-checked scores, tie order") {
    def brute(text: String, topK: Int = 3): Seq[(Int, String, BigDecimal, Long)] = {
      val toks = text.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      val delim = toks.map(t => TextAnalysis.rakeStopwords.contains(t) ||
        !t.matches("[a-z0-9]+"))
      // maximal non-delimiter runs
      val phrases = scala.collection.mutable.ArrayBuffer[Seq[String]]()
      var cur = scala.collection.mutable.ArrayBuffer[String]()
      toks.indices.foreach { i =>
        if (delim(i)) { if (cur.nonEmpty) { phrases += cur.toSeq; cur.clear() } }
        else cur += toks(i)
      }
      if (cur.nonEmpty) phrases += cur.toSeq
      val occ = phrases.flatMap(p => p.map(w => (w, p.size)))
      val wscore = occ.groupBy(_._1).map { case (w, xs) =>
        w -> BigDecimal(xs.map(_._2).sum.toDouble / xs.size)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP) }
      val scored = phrases.map(p => (p.mkString(" "), p.map(wscore).sum))
        .groupBy(_._1).map { case (ph, xs) => (ph, xs.head._2, xs.size.toLong) }
        .toSeq.sortBy { case (ph, sc, _) => (-sc, ph) }
      scored.take(topK).zipWithIndex.map { case ((ph, sc, n), i) =>
        (i + 1, ph, sc, n) }
    }
    val texts = Seq(
      1L -> "deep learning models require large datasets. the large datasets and deep learning models matter!",
      2L -> "alpha beta and alpha beta and alpha beta",
      3L -> "the of and to in") // all stopwords: no phrases, no rows
    val got = TextAnalysis.rake(texts.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getString(2),
        BigDecimal(r.getDecimal(3)).setScale(9), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy(_._1)).toMap
    texts.foreach { case (id, tx) =>
      assert(got.getOrElse(id, Seq.empty) == brute(tx), s"doc $id diverged:\n${got.getOrElse(id, Seq.empty)}\nvs\n${brute(tx)}")
    }
    assert(!got.contains(3L))
    // hand check doc 2: phrases "alpha beta" ×3 — deg(alpha)=deg(beta)=6,
    // freq=3 → wscore 2.0 each → phrase score 4.0, one distinct phrase
    assert(got(2L) == Seq((1, "alpha beta", BigDecimal(4).setScale(9), 3L)))
  }

  test("kneser-ney: hand-computed closed forms, distribution sums to 1, partition-stable") {
    // corpus: "a b", "a b", "a c" → bigrams (a,b)×2, (a,c)×1
    // model: c(a)=3, N₁₊(a,·)=2, N₁₊(·,b)=N₁₊(·,c)=1, B=2 types
    // P(b|a) = (2−.75 + .75·2·(1/2)) / 3 = 2/3
    // P(c|a) = (1−.75 + .75·2·(1/2)) / 3 = 1/3
    // → the context distribution sums to EXACTLY 1 (KN's defining
    //   property: the discount mass re-enters via continuation weight)
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e12 = r(-r(math.log(2.0 / 3), 9), 6) // ln 1.5
    val e3 = r(-r(math.log(1.0 / 3), 9), 6)  // ln 3.0
    val got = TextAnalysis.kneserNeyPerplexity(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 1L, 1L))
    assert(got(0)._3 == e12 && got(1)._3 == e12 && got(2)._3 == e3)
    // the closed forms land exactly on ln of the exact ppls 1.5 and 3.0
    assert(e12 == 0.405465 && e3 == 1.098612)
    // partition-stability: the 9-dp decimal sums are order-free
    val again = TextAnalysis.kneserNeyPerplexity(docs.repartition(5),
        "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(again == got.toSet)
  }

  test("bm25: hand-computed score, non-matching docs dropped, deterministic top-k") {
    val docs = Seq(
      (1L, "hash join hash probe"),   // tf(hash)=2, tf(join)=1, dl=4
      (2L, "merge sort merge"),       // tf(merge)=2, tf(sort)=1, dl=3
      (3L, "scan filter project"),    // no query terms -> dropped
      (4L, "hash")                    // tf(hash)=1, dl=1
    ).toDF("doc_id", "text")
    val q = Seq("hash", "join")
    val got = Retrieval.bm25(docs, "doc_id", "text", q)
      .orderBy("id").collect()
    // docs 2 and 3 contain no query term -> dropped row-locally
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 4L))
    // corpus stats still cover ALL docs: N=4, avgdl=(4+3+3+1)/4,
    // df(hash)=2, df(join)=1
    val n = 4.0; val avgdl = 11.0 / 4
    def idf(df: Double) = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    def term(tf: Double, df: Double, dl: Double) =
      idf(df) * (tf * (1.2 + 1.0)) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(0).getDouble(1) == r6(term(2, 2, 4) + term(1, 1, 4)))
    assert(got(1).getDouble(1) == r6(term(1, 2, 1) + term(0, 1, 1)))
    assert(got(0).getInt(2) == 2 && got(0).getInt(3) == 1) // tf_hash, tf_join
    val topk = Retrieval.bm25TopK(docs, "doc_id", "text", q, k = 2).collect()
    assert(topk.map(_.getLong(0)).toSeq == Seq(1L, 4L)) // score desc, id tiebreak
    // plan: corpus stats join must be a broadcast, no SortMergeJoin
    val plan = Retrieval.bm25(docs, "doc_id", "text", q)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"stats must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle join in bm25:\n$plan")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("binary plumbing: planted headers → mapPartitions parse → features") {
    val docs = Tables.t(spark, sf, "documents").limit(50)
    val feats = Multimodal.extractFeatures(spark, Multimodal.asMediaTable(docs))
    val rows = feats.collect()
    assert(rows.length == 50)
    rows.foreach { f =>
      f.fmt match {
        case "png" | "bmp" =>
          assert(f.width == (f.doc_id % 640).toInt + 1, s"${f.doc_id} width")
          assert(f.height == (f.doc_id % 480).toInt + 1, s"${f.doc_id} height")
          assert(f.sample_rate == 0 && f.channels == 0)
        case "wav" =>
          assert(f.sample_rate == 8000 + (f.doc_id % 5).toInt * 8000)
          assert(f.channels == 1 + (f.doc_id % 2).toInt)
          assert(f.width == 0 && f.height == 0)
        case other => fail(s"unexpected parsed fmt $other")
      }
      assert(f.fmt == Seq("png", "bmp", "wav")((f.doc_id % 3).toInt))
      assert(f.n_bytes > 0)
    }
    // deterministic: same input → same checksum
    val again = Multimodal.extractFeatures(spark, Multimodal.asMediaTable(docs))
      .collect().map(f => f.doc_id -> f.checksum).toMap
    assert(rows.forall(f => again(f.doc_id) == f.checksum))
  }

  test("detection reads magic bytes, not the tag; garbage → unknown") {
    import Multimodal.{MediaCodec, MediaRow}
    val png = MediaCodec.decode(MediaRow(7L, "lies",
      MediaCodec.pngHeader(101, 55) ++ Array.fill[Byte](20)(3)))
    assert(png.fmt == "png" && png.width == 101 && png.height == 55)
    val bmp = MediaCodec.decode(MediaRow(8L, "lies",
      MediaCodec.bmpHeader(640, 480, 10) ++ Array.fill[Byte](10)(1)))
    assert(bmp.fmt == "bmp" && bmp.width == 640 && bmp.height == 480)
    val wav = MediaCodec.decode(MediaRow(9L, "lies",
      MediaCodec.wavHeader(44100, 2, 8) ++ Array.fill[Byte](8)(0)))
    assert(wav.fmt == "wav" && wav.sample_rate == 44100 && wav.channels == 2)
    val junk = MediaCodec.decode(MediaRow(10L, "png", Array.fill[Byte](64)(42)))
    assert(junk.fmt == "unknown" && junk.width == 0)
  }

  test("wav clipping truncates samples and rewrites RIFF sizes") {
    import Multimodal.{clipWav, MediaCodec, MediaRow}
    val body = Array.fill[Byte](1000)(5) // 250 stereo 16-bit samples
    val wav = MediaCodec.wavHeader(16000, 2, body.length) ++ body
    val clipped = clipWav(wav, maxSamples = 100)
    assert(clipped.length == 44 + 100 * 4)
    val f = MediaCodec.decode(MediaRow(1L, "wav", clipped))
    assert(f.fmt == "wav" && f.sample_rate == 16000 && f.channels == 2)
    // shorter than the cap: untouched
    assert(clipWav(wav, maxSamples = 1000).length == wav.length)
    // non-wav passthrough
    val png = MediaCodec.pngHeader(10, 10) ++ Array.fill[Byte](8)(1)
    assert(clipWav(png, 10).sameElements(png))
  }

  test("resize stub rewrites the dimension fields the parser reads") {
    import Multimodal.{resizeHeaderStub, MediaCodec, MediaRow}
    val png = MediaCodec.pngHeader(640, 480) ++ Array.fill[Byte](16)(1)
    val r = MediaCodec.decode(MediaRow(1L, "png", resizeHeaderStub(png, 64, 48)))
    assert(r.width == 64 && r.height == 48)
    val bmp = MediaCodec.bmpHeader(640, 480, 16) ++ Array.fill[Byte](16)(1)
    val r2 = MediaCodec.decode(MediaRow(2L, "bmp", resizeHeaderStub(bmp, 32, 24)))
    assert(r2.width == 32 && r2.height == 24)
  }

  test("avi frame sampling keeps every Nth frame and rewrites all sizes") {
    import Multimodal.{MediaRow, VideoCodec}
    // 7 frames of 4 bytes; fill is exactly body-sized, so frame k's
    // bytes all carry value k
    val fill = Array.tabulate[Byte](28)(i => (i / 4).toByte)
    val avi = VideoCodec.buildAvi(width = 320, height = 200,
      usPerFrame = 40000, nFrames = 7, frameSize = 4, fill = fill)
    val f0 = VideoCodec.decodeAvi(MediaRow(1L, "avi", avi))
    assert(f0.fmt == "avi" && f0.width == 320 && f0.height == 200 &&
      f0.n_frames == 7 && f0.fps == 25)
    val s = VideoCodec.frameSample(avi, 3) // keeps frames 0, 3, 6
    val fs = VideoCodec.decodeAvi(MediaRow(1L, "avi", s))
    assert(fs.n_frames == 3 && fs.n_bytes == 100 + 3 * 4)
    // kept frame CONTENT is the original frames 0/3/6, order-preserved
    val body = s.drop(VideoCodec.BodyOff)
    assert(body.grouped(4).map(_.head.toInt).toSeq == Seq(0, 3, 6))
    // RIFF size field consistent with the actual length
    assert(((s(4) & 0xff) | ((s(5) & 0xff) << 8)) == s.length - 8)
    // non-avi passthrough
    val png = MediaCodec0.pngHeader(10, 10) ++ Array.fill[Byte](8)(1)
    assert(VideoCodec.frameSample(png, 2).sameElements(png))
  }
  private val MediaCodec0 = Multimodal.MediaCodec

  test("jpeg marker walk recovers SOF0 dims and segment count") {
    import Multimodal.{JpegCodec, MediaRow}
    val body = "entropy-coded-ish bytes".getBytes("UTF-8")
    val plain = JpegCodec.buildJpeg(321, 199, withDqt = false, body)
    val f = JpegCodec.decodeJpeg(MediaRow(1L, "jpeg", plain))
    assert(f.fmt == "jpeg" && f.width == 321 && f.height == 199 &&
      f.n_segments == 2 && f.n_bytes == 55 + body.length)
    val dqt = JpegCodec.buildJpeg(640, 480, withDqt = true, body)
    val f2 = JpegCodec.decodeJpeg(MediaRow(2L, "jpeg", dqt))
    assert(f2.width == 640 && f2.height == 480 && f2.n_segments == 3 &&
      f2.n_bytes == 55 + 69 + body.length)
  }

  test("jpeg parser rejects junk, truncation, and bad segment lengths") {
    import Multimodal.{JpegCodec, MediaRow}
    assert(JpegCodec.decodeJpeg(
      MediaRow(1L, "jpeg", Array.fill[Byte](32)(7))).fmt == "unknown")
    val good = JpegCodec.buildJpeg(100, 50, withDqt = true, Array[Byte](1, 2))
    // cut inside the SOF0 segment: the walk must fail cleanly
    val cut = JpegCodec.decodeJpeg(MediaRow(2L, "jpeg", good.take(30)))
    assert(cut.fmt == "unknown" && cut.width == 0)
    // corrupt a segment length to overflow the buffer
    val bad = good.clone(); bad(4) = 0x7f; bad(5) = 0x7f.toByte
    assert(JpegCodec.decodeJpeg(MediaRow(3L, "jpeg", bad)).fmt == "unknown")
  }

  test("tiff IFD walk: both byte orders, chain following, IFD0-wins dims") {
    import Multimodal.{TiffCodec, MediaRow}
    val body = "strip bytes".getBytes("UTF-8")
    for (le <- Seq(true, false)) {
      val p = TiffCodec.buildTiff(le, 321, 199, 6,
        withBits = true, withThumb = true, body)
      val f = TiffCodec.decodeTiff(MediaRow(1L, "tiff", p))
      assert(f.fmt == "tiff" && f.width == 321 && f.height == 199 &&
        f.orientation == 6 && f.n_entries == 6 && f.n_ifds == 2,
        s"le=$le: $f")
      // thumbnail IFD1 carries 41x25 — IFD0's dims must win
      assert(f.width != 321 / 8 + 1)
    }
    val single = TiffCodec.decodeTiff(MediaRow(2L, "tiff",
      TiffCodec.buildTiff(le = true, 64, 32, 1,
        withBits = false, withThumb = false, body)))
    assert(single.n_ifds == 1 && single.n_entries == 3 && single.width == 64)
  }

  test("tiff parser rejects junk, truncation, and a dangling IFD offset") {
    import Multimodal.{TiffCodec, MediaRow}
    assert(TiffCodec.decodeTiff(
      MediaRow(1L, "tiff", Array.fill[Byte](32)(7))).fmt == "unknown")
    val good = TiffCodec.buildTiff(le = true, 100, 50, 1,
      withBits = false, withThumb = true, Array[Byte](1, 2))
    // cut inside IFD0's entry table: clean failure
    val cut = TiffCodec.decodeTiff(MediaRow(2L, "tiff", good.take(20)))
    assert(cut.fmt == "unknown" && cut.width == 0)
    // point the IFD0 offset past the buffer
    val bad = good.clone(); bad(4) = 0x7f
    assert(TiffCodec.decodeTiff(MediaRow(3L, "tiff", bad)).fmt == "unknown")
  }

  test("mp4 box-tree walk: nesting depth, track count, first-tkhd wins") {
    import Multimodal.{Mp4Codec, MediaRow}
    val body = "mdat payload".getBytes("UTF-8")
    val p = Mp4Codec.buildMp4(640, 360, 3000, 7500, nTracks = 2, body)
    val f = Mp4Codec.decodeMp4(MediaRow(1L, "mp4", p))
    assert(f.fmt == "mp4" && f.width == 640 && f.height == 360, s"$f")
    assert(f.timescale == 3000 && f.duration_ms == 2500L, s"$f")
    assert(f.n_tracks == 2 && f.n_boxes == 14 && f.max_depth == 4, s"$f")
    val one = Mp4Codec.decodeMp4(MediaRow(2L, "mp4",
      Mp4Codec.buildMp4(64, 32, 1000, 999, nTracks = 1, body)))
    assert(one.n_tracks == 1 && one.n_boxes == 9 && one.duration_ms == 999L)
  }

  test("mp4 parser rejects junk, truncation, child-past-parent, nesting bomb") {
    import Multimodal.{Mp4Codec, MediaRow}
    assert(Mp4Codec.decodeMp4(
      MediaRow(1L, "mp4", Array.fill[Byte](32)(9))).fmt == "unknown")
    val good = Mp4Codec.buildMp4(100, 50, 1000, 5000, 1, Array[Byte](1, 2))
    // cut inside moov: a child box extends past the truncated parent
    val cut = Mp4Codec.decodeMp4(MediaRow(2L, "mp4", good.take(60)))
    assert(cut.fmt == "unknown" && cut.width == 0)
    // grow a child's size field past its parent's extent
    val bad = good.clone(); bad(28) = 0x7f // mvhd's size, past moov's extent
    assert(Mp4Codec.decodeMp4(MediaRow(3L, "mp4", bad)).fmt == "unknown")
    // nesting bomb: 40 nested moov shells > the depth cap of 32
    val bomb = (1 to 40).foldLeft("ftyp".getBytes("US-ASCII")) {
      case (inner, _) => Mp4Codec.box("moov", inner)
    }
    val shell = Mp4Codec.box("ftyp", Array[Byte](0, 0, 0, 0)) ++ bomb
    // make isMp4 see ftyp first: shell starts with a real ftyp box
    assert(Mp4Codec.decodeMp4(MediaRow(4L, "mp4", shell)).fmt == "unknown")
  }

  test("gif sub-block chain walk: geometry, GCT, frames, extensions, byte census") {
    import Multimodal.{GifCodec, MediaRow}
    // 2 frames of 300 and 40 data bytes: the 300 splits 255+45 (two
    // length prefixes), the 40 rides one sub-block
    val p = GifCodec.buildGif(v89 = true, width = 33, height = 21,
      gctExp = 2, frameBytes = Seq(300, 40), withComment = true,
      commentLen = 5)
    val f = GifCodec.decodeGif(MediaRow(1L, "gif", p))
    assert(f.fmt == "gif89" && f.width == 33 && f.height == 21, s"$f")
    assert(f.gct_entries == 8 && f.n_frames == 2 && f.n_exts == 2, s"$f")
    assert(f.n_subblocks == 3L && f.data_bytes == 340L, s"$f")
    // hand-summed: 13 hdr+LSD + 24 GCT + 8 GCE + 9 comment +
    // (12+300+2) + (12+40+1) frames + 1 trailer
    assert(f.n_bytes == 13L + 24 + 8 + 9 + 314 + 53 + 1)
    assert(f.n_bytes == p.length.toLong)
  }

  test("gif parser rejects junk, truncation mid-chain, trailing junk, missing trailer") {
    import Multimodal.{GifCodec, MediaRow}
    assert(GifCodec.decodeGif(
      MediaRow(1L, "gif", Array.fill[Byte](64)(9))).fmt == "unknown")
    val good = GifCodec.buildGif(v89 = false, width = 10, height = 10,
      gctExp = 0, frameBytes = Seq(100), withComment = false,
      commentLen = 0)
    assert(GifCodec.decodeGif(MediaRow(2L, "gif", good)).fmt == "gif87")
    // cut inside the pixel chain: the 1-byte prefix walk must refuse
    val cut = GifCodec.decodeGif(MediaRow(3L, "gif", good.dropRight(30)))
    assert(cut.fmt == "unknown" && cut.n_frames == 0)
    // trailer not last: trailing junk fails
    assert(GifCodec.decodeGif(
      MediaRow(4L, "gif", good ++ Array[Byte](7))).fmt == "unknown")
    // no trailer at all: ran-off-the-end fails
    assert(GifCodec.decodeGif(
      MediaRow(5L, "gif", good.dropRight(1))).fmt == "unknown")
    // junk introducer mid-stream
    val bad = good.clone()
    bad(13 + 6) = 0x55 // first byte after the 2-entry GCT (the GCE intro)
    assert(GifCodec.decodeGif(MediaRow(6L, "gif", bad)).fmt == "unknown")
  }

  test("flac bit-packed streaminfo: boundary values round-trip exactly") {
    import Multimodal.{FlacCodec, MediaRow}
    // max-field geometry: 48 kHz needs 16 of the 20 sr bits, 8
    // channels saturates the 3-bit field, 24 bps the 5-bit field, and
    // the sample total crosses the 32-bit line into the top nibble
    val p = FlacCodec.buildFlac(48000, 8, 24, 0x5_1234_5678L,
      vendorLen = 11, withPadding = true, padLen = 0, frameLen = 300)
    val f = FlacCodec.decodeFlac(MediaRow(1L, "flac", p))
    assert(f.fmt == "flac" && f.sample_rate == 48000, s"$f")
    assert(f.channels == 8 && f.bits_per_sample == 24, s"$f")
    assert(f.total_samples == 0x5_1234_5678L, s"$f")
    assert(f.n_blocks == 3 && f.padding_bytes == 0L, s"$f") // 0-len pad legal
    assert(f.frame_bytes == 300L && f.n_bytes == p.length.toLong, s"$f")
    assert(f.duration_ms == 0x5_1234_5678L * 1000L / 48000L)
    // hand-summed layout: 4 magic + 38 streaminfo + (4 + 19) vorbis +
    // (4 + 0) padding + 300 frames
    assert(p.length == 4 + 38 + 23 + 4 + 300)
    // minimal file: streaminfo only, last-flag on the first block
    val m = FlacCodec.decodeFlac(MediaRow(2L, "flac",
      FlacCodec.buildFlac(8000, 1, 8, 1000L, 0, withPadding = false, 0, 0)))
    assert(m.fmt == "flac" && m.n_blocks == 1 && m.frame_bytes == 0L, s"$m")
  }

  test("flac parser rejects bad magic, wrong first block, truncation, overrun length") {
    import Multimodal.{FlacCodec, MediaRow}
    val good = FlacCodec.buildFlac(16000, 2, 16, 5000L,
      vendorLen = 5, withPadding = true, padLen = 10, frameLen = 50)
    assert(FlacCodec.decodeFlac(MediaRow(1L, "flac", good)).fmt == "flac")
    // bad magic
    val bm = good.clone(); bm(0) = 'g'
    assert(FlacCodec.decodeFlac(MediaRow(2L, "flac", bm)).fmt == "unknown")
    // first block not STREAMINFO (type byte 0→4, flag preserved)
    val wt = good.clone(); wt(4) = (wt(4) | 0x04).toByte
    assert(FlacCodec.decodeFlac(MediaRow(3L, "flac", wt)).fmt == "unknown")
    // truncation mid-metadata: cut inside the padding block (the walk
    // must refuse, never index out of bounds)
    val cutAt = 4 + 38 + 4 + 13 + 4 + 5 // into padding payload
    assert(FlacCodec.decodeFlac(
      MediaRow(4L, "flac", good.take(cutAt))).fmt == "unknown")
    // length field overrunning the payload
    val ov = good.clone(); ov(4 + 38 + 3) = 0x7f // vorbis len low byte huge
    assert(FlacCodec.decodeFlac(MediaRow(5L, "flac", ov)).fmt == "unknown")
    // last-block flag never fires: strip it from the padding header —
    // the walk runs into the frame bytes and must fail on bounds or
    // never-terminates, not loop forever
    val nf = good.clone()
    val padHdr = 4 + 38 + 4 + 13
    nf(padHdr) = (nf(padHdr) & 0x7f).toByte
    assert(FlacCodec.decodeFlac(MediaRow(6L, "flac", nf)).fmt == "unknown")
    // zero sample rate is spec-invalid
    val zs = FlacCodec.buildFlac(0, 1, 8, 10L, 0, withPadding = false, 0, 0)
    assert(FlacCodec.decodeFlac(MediaRow(7L, "flac", zs)).fmt == "unknown")
  }

  test("pdf xref walk: offsets verified, stream census, digit-width boundaries") {
    import Multimodal.{PdfCodec, MediaRow}
    // lenBase 95 + i crosses the 2→3 digit /Length boundary mid-file
    // (L = 98..102), so the per-object digit-width arithmetic is live
    val p = PdfCodec.buildPdf(n = 4, lenBase = 97)
    val f = PdfCodec.decodePdf(MediaRow(1L, "pdf", p))
    assert(f.fmt == "pdf" && f.n_objects == 4 && f.n_verified == 4, s"$f")
    assert(f.size_entry == 5, s"$f")
    assert(f.stream_bytes == (98 + 99 + 100 + 101).toLong, s"$f")
    assert(f.n_bytes == p.length.toLong, s"$f")
    // xref really sits where the decoder says
    assert(new String(p, f.xref_offset.toInt, 5, "US-ASCII") == "xref\n")
  }

  test("pdf parser rejects bad magic, corrupt startxref, flipped entry digit, truncation, /Size lie") {
    import Multimodal.{PdfCodec, MediaRow}
    val good = PdfCodec.buildPdf(n = 3, lenBase = 20)
    assert(PdfCodec.decodePdf(MediaRow(1L, "pdf", good)).fmt == "pdf")
    // bad magic
    val bm = good.clone(); bm(1) = 'X'
    assert(PdfCodec.decodePdf(MediaRow(2L, "pdf", bm)).fmt == "unknown")
    // corrupt the startxref number (first digit -> 9: offset lands in
    // the middle of nowhere; "xref\n" check must refuse)
    val sx = good.clone()
    val sxPos = new String(good, "US-ASCII").lastIndexOf("startxref\n") + 10
    sx(sxPos) = '9'
    assert(PdfCodec.decodePdf(MediaRow(3L, "pdf", sx)).fmt == "unknown")
    // flip a digit inside entry 1's 10-digit offset: the header
    // cross-check at the dereferenced position must fail
    val fe = good.clone()
    val s = new String(good, "US-ASCII")
    val entry1 = s.indexOf("xref\n") + 5 + s.substring(s.indexOf("xref\n") + 5).indexOf("\n") + 1 + 20
    fe(entry1 + 5) = (if (fe(entry1 + 5) == '9') '8' else '9').toByte
    assert(PdfCodec.decodePdf(MediaRow(4L, "pdf", fe)).fmt == "unknown")
    // truncation kills the %%EOF anchor
    assert(PdfCodec.decodePdf(MediaRow(5L, "pdf", good.dropRight(3))).fmt == "unknown")
    // /Size lie: 4 -> 9 (count stays 4; consistency check must refuse)
    val sl = good.clone()
    val sizePos = s.indexOf("/Size ") + 6
    sl(sizePos) = '9'
    assert(PdfCodec.decodePdf(MediaRow(6L, "pdf", sl)).fmt == "unknown")
  }

  test("zip footer walk: EOCD scan, CD entries, LFH cross-check") {
    import Multimodal.{ZipCodec, MediaRow}
    val datas = Seq(Array.fill[Byte](10)(1), Array.fill[Byte](17)(2))
    val p = ZipCodec.buildZip(datas)
    val f = ZipCodec.decodeZip(MediaRow(1L, "zip", p))
    assert(f.fmt == "zip" && f.n_entries == 2 && f.total_uncomp == 27L, s"$f")
    assert(f.cd_offset == 36 + 10 + 36 + 17, s"$f")
    assert(f.n_bytes == p.length.toLong)
  }

  test("zip parser rejects junk, lost EOCD, dangling CD, corrupt LFH pointer") {
    import Multimodal.{ZipCodec, MediaRow}
    assert(ZipCodec.decodeZip(
      MediaRow(1L, "zip", Array.fill[Byte](64)(3))).fmt == "unknown")
    val good = ZipCodec.buildZip(Seq(Array.fill[Byte](12)(7)))
    // chop the EOCD off the tail
    val cut = ZipCodec.decodeZip(MediaRow(2L, "zip", good.dropRight(8)))
    assert(cut.fmt == "unknown" && cut.n_entries == 0)
    // point the central directory past the buffer
    val badCd = good.clone(); badCd(good.length - 6) = 0x7f
    assert(ZipCodec.decodeZip(MediaRow(3L, "zip", badCd)).fmt == "unknown")
    // corrupt the entry's local-header back-pointer target
    val badLfh = good.clone(); badLfh(0) = 0x00
    assert(ZipCodec.decodeZip(MediaRow(4L, "zip", badLfh)).fmt == "unknown")
  }

  test("tar block walk: octal sizes, block seeks, checksum, zero-block terminator") {
    import Multimodal.{TarCodec, MediaRow}
    // 600 bytes → 2 data blocks; 100 → 1; exercises the seek math
    val p = TarCodec.buildTar(Seq(600, 100), seed = 9L)
    val f = TarCodec.decodeTar(MediaRow(1L, "tar", p))
    assert(f.fmt == "tar" && f.n_files == 2 && f.total_size == 700L, s"$f")
    assert(f.data_blocks == 3L)
    assert(f.n_bytes == (2 + 3) * 512L + 1024L && f.n_bytes == p.length)
  }

  test("tar parser rejects junk, bad magic, wrong checksum, truncation, single zero block") {
    import Multimodal.{TarCodec, MediaRow}
    assert(TarCodec.decodeTar(
      MediaRow(1L, "tar", Array.fill[Byte](2048)(5))).fmt == "unknown")
    val good = TarCodec.buildTar(Seq(300), seed = 3L)
    val badMagic = good.clone(); badMagic(257) = 'x'
    assert(TarCodec.decodeTar(MediaRow(2L, "tar", badMagic)).fmt == "unknown")
    // flip a data-independent header byte (name) WITHOUT fixing the
    // checksum — the verify must catch it
    val badSum = good.clone(); badSum(0) = 'z'
    assert(TarCodec.decodeTar(MediaRow(3L, "tar", badSum)).fmt == "unknown")
    // drop one terminator block: the walk must refuse the half-close
    val oneZero = TarCodec.decodeTar(MediaRow(4L, "tar", good.dropRight(512)))
    assert(oneZero.fmt == "unknown" && oneZero.n_files == 0)
    assert(TarCodec.decodeTar(
      MediaRow(5L, "tar", good.dropRight(1300))).fmt == "unknown")
  }

  test("edit-distance join catches insert, delete, substitute; rejects dist 2") {
    import TestSpark.spark.implicits._
    val rows = Seq(
      (1L, "spark"), (2L, "spak"),   // deletion  (dist 1)
      (3L, "sparko"),                // insertion (dist 1)
      (4L, "snark"),                 // substitution (dist 1)
      (5L, "spoke"),                 // dist 2 from spark — must be excluded
      (6L, "ab"), (7L, "ba"),        // share deletion variants, dist 2 — FP removed
    ).toDF("id", "nm")
    val pairs = graft.operators.Dedup.editDistancePairs(rows, "id", "nm")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    assert(!pairs.contains((6L, 7L)))
  }

  test("jpeg width/height above 255 survive the big-endian u16 round-trip") {
    import Multimodal.{JpegCodec, MediaRow}
    val f = JpegCodec.decodeJpeg(MediaRow(1L, "jpeg",
      JpegCodec.buildJpeg(640, 479, withDqt = false, Array.emptyByteArray)))
    assert(f.width == 640 && f.height == 479)
  }
}

class SkewJoinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("salted join returns exactly the plain join's rows on skewed data") {
    // 90% of rows share one hot key
    val big = spark.range(0, 20000).toDF("i")
      .select(when($"i" % 10 === 0, $"i" % 100).otherwise(7L).as("k"),
        $"i".as("payload"))
    val small = Seq((7L, "hot"), (3L, "cold"), (40L, "mid")).toDF("k", "label")
    val salted = SkewJoin.saltedJoin(big, small, "k", salt = 8)
      .select("k", "payload", "label")
      .as[(Long, Long, String)].collect().sorted.toSeq
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "label")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
    // the hot key spreads across multiple salt values
    val saltSpread = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(8)))
      .filter($"k" === 7L).select("__salt").distinct().count()
    assert(saltSpread > 4)
  }

  test("hotKeys surfaces the skew") {
    val big = spark.range(0, 1000).toDF("i")
      .select(when($"i" % 10 === 0, $"i" % 100).otherwise(7L).as("k"))
    val top = SkewJoin.hotKeys(big, "k", 1).collect().head
    assert(top.getLong(0) == 7L && top.getLong(1) == 900L)
  }
}
