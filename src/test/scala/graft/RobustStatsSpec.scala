package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 additions: weighted median (q64), median/MAD robust
  * outliers (t50), KMV sketch calibration (d15) — semantics proven
  * against in-process brute-force recomputation and pinned fixtures. */
class RobustStatsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("q64 weighted median == brute-force rule on collected lineitem") {
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
        col("l_linenumber").cast("long"),
        col("l_quantity"), col("l_extendedprice"))
      .as[(String, String, Long, Long, Double, Double)].collect()
    val expect = rows.groupBy(r => (r._1, r._2)).map { case (g, rs) =>
      // exact integer cents/centi-units to mirror the DECIMAL math
      val sorted = rs.sortBy(r => (r._6, r._3, r._4))
      val tot = sorted.map(r => math.round(r._5 * 100)).sum
      var cum = 0L
      var med = Double.NaN
      for (r <- sorted if med.isNaN) {
        cum += math.round(r._5 * 100)
        if (cum * 2 >= tot) med = r._6
      }
      g -> med
    }
    val got = relational.Relational.q64WeightedMedian(spark, sf)
      .select("l_returnflag", "l_linestatus", "wmed_price")
      .as[(String, String, Double)].collect()
    assert(got.length == expect.size)
    got.foreach { case (f, st, m) =>
      assert(m == expect((f, st)), s"group ($f, $st)")
    }
  }

  test("d16 band sweep: recall rises and precision falls as bands shorten") {
    val rows = llm.LlmQueries.d16LshBandSweep(spark, sf)
      .select("bands", "n_true", "n_cand", "n_caught")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(4, 8, 16))
    val nTrue = rows.head._2
    assert(nTrue >= 300L, s"planted copies missing from truth: $nTrue")
    // recall non-decreasing with band count, candidate volume
    // (the precision cost) strictly growing
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"recall fell: $a -> $b")
      assert(a._3 < b._3, s"candidates did not grow: $a -> $b")
    }
    // the shortest-band config must catch every true pair here
    assert(rows.last._4 == nTrue, s"16x1 missed pairs: ${rows.last}")
  }

  test("x28 CMS: conservative (est >= truth) under forced collisions") {
    // 60 distinct tokens into 8 buckets × 2 rows — collisions certain
    val toks = (1 to 60).flatMap(i => Seq.fill(i % 5 + 1)(s"tk$i"))
    val df = toks.toDF("tok")
    val got = operators.Sketches.countMinProbe(df, seeds = 2, buckets = 8)
      .select("tok", "exact_n", "cms_n").as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (tk, ex, est) =>
      assert(est >= ex, s"CMS underestimated $tk: $est < $ex")
    }
    // at this load at least one probe must actually collide — otherwise
    // the conservative assertion never bites
    assert(got.exists { case (_, ex, est) => est > ex },
      "no collision at 60 tokens / 8 buckets — fixture broken")
  }

  test("x29: allocation sums to k exactly, every stratum within 1 of quota") {
    val rows = llm.LlmQueries.x29StratifiedSplit(spark, sf)
      .select("n_docs", "allocated", "n_selected")
      .as[(Long, Long, Long)].collect()
    val n = rows.map(_._1).sum
    assert(rows.map(_._2).sum == 100L, "allocation must sum to k exactly")
    rows.foreach { case (nd, al, sel) =>
      assert(sel == al, "selection must fill its allocation")
      val quota = nd.toDouble * 100 / n
      assert(al >= math.floor(quota) - 1e-9 && al <= math.ceil(quota) + 1e-9,
        s"stratum n=$nd allocated $al outside [⌊$quota⌋, ⌈$quota⌉]")
    }
  }

  test("x30: yield curve is monotone non-increasing in the threshold") {
    val rows = llm.LlmQueries.x30FilterTradeoff(spark, sf)
      .select("threshold", "n_kept", "tok_kept")
      .as[(Double, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0.3, 0.5, 0.7, 0.9))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3,
        s"tightening the cutoff must never keep more: $a -> $b")
    }
    // the curve must actually discriminate on this corpus
    assert(rows.head._2 > rows.last._2)
  }

  test("q70 rollup: pointer doubling closes a 20-deep chain; exact totals") {
    // a pure path 1←2←3←…←21 (every node's parent is node−1): subtree
    // of node k = nodes k..21, so subtree_n = 22−k and subtree_val =
    // Σ k..21 — a depth-20 chain only 5 doubling rounds can close
    val n = 21
    val edges = (2 to n).map(i => (i.toLong, (i - 1).toLong))
      .toDF("node", "parent")
    val values = (1 to n).map(i =>
      (i.toLong, BigDecimal(i))).toDF("node", "value")
    val got = operators.Graphs.subtreeRollup(edges, values, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDecimal(2).longValue())).sortBy(_._1)
    assert(got.length == n)
    got.foreach { case (k, cnt, tot) =>
      assert(cnt == n - k + 1, s"node $k count $cnt")
      assert(tot == (k to n).sum.toLong, s"node $k total $tot")
    }
  }

  test("x31: cross-lang concatenations flagged; self-doubled doc consistent") {
    val rows = llm.LlmQueries.x31LangConsistency(spark, sf)
      .select("doc_id", "lang_h1", "lang_h2", "consistent")
      .as[(Long, String, String, Boolean)].collect()
    assert(rows.count(!_._4) > 0, "no mixed doc flagged — plants broken")
    assert(rows.count(_._4) > rows.length / 2,
      "majority should stay consistent on this corpus")
    // the last doc has no successor: its text doubles, so both halves
    // are (nearly) the same content and must classify identically
    val last = rows.maxBy(_._1)
    assert(last._4, s"self-doubled doc inconsistent: $last")
  }

  test("t57 parser: precedence, parens, in-lists, not; malformed throws") {
    import graft.types.PredicateParser.parse
    val df = Seq((1, "a", 0.5), (2, "b", 0.9), (3, "a", 0.1), (10, "c", 0.5))
      .toDF("x", "s", "d")
    def ids(p: String): Set[Int] =
      df.filter(parse(p)).select("x").as[Int].collect().toSet
    // and binds tighter than or: this is (x==1) or (s=='b' and d>0.5)
    assert(ids("x == 1 or s == 'b' and d > 0.5") == Set(1, 2))
    // parens override
    assert(ids("(x == 1 or s == 'b') and d > 0.5") == Set(2))
    // not binds tighter than and
    assert(ids("not s == 'a' and x < 5") == Set(2))
    assert(ids("x in (1, 10)") == Set(1, 10))
    assert(ids("not (x in (1, 10))") == Set(2, 3))
    assert(ids("d >= 0.5 and x != 10") == Set(1, 2))
    // arithmetic: * over +, parens, unary minus, division
    assert(ids("x + 1 * 2 == 3") == Set(1))      // 1 + (1*2), not (1+1)*2
    assert(ids("(x + 1) * 2 == 6") == Set(2))
    assert(ids("-x == -10") == Set(10))
    assert(ids("d / 0.5 >= 1.8") == Set(2))
    for (bad <- Seq("x ==", "x === 1", "(x == 1", "x in (1,)", "x @ 1",
      "x == 'open", "1 2", "x + ", "* 3 == 1"))
      assertThrows[IllegalArgumentException](parse(bad))
  }

  test("t57 parser: @env references, in @list, column-vs-column sides") {
    import graft.types.PredicateParser.parse
    val df = Seq((1, 2, "a", 0.5), (2, 1, "b", 0.9), (3, 9, "a", 0.1),
      (10, 1, "c", 0.5)).toDF("x", "y", "s", "d")
    val env = Map[String, Any]("lo" -> 2, "tag" -> "a",
      "tags" -> Seq("a", "c"), "half" -> 0.5, "cut" -> col("d") * 10)
    def ids(p: String): Set[Int] =
      df.filter(parse(p, env)).select("x").as[Int].collect().toSet
    // scalar refs on either side, in arithmetic, and as strings
    assert(ids("x >= @lo") == Set(2, 3, 10))
    assert(ids("@lo <= x and s == @tag") == Set(3))
    assert(ids("x + @lo == 4") == Set(2))
    assert(ids("d == @half") == Set(1, 10))
    // a Column env value splices in as-is (pandas' @series analogue)
    assert(ids("x < @cut") == Set(1, 2))
    // in-list from the environment, and its negation
    assert(ids("s in @tags") == Set(1, 3, 10))
    assert(ids("not (s in @tags)") == Set(2))
    // column-vs-column with arithmetic on both sides
    assert(ids("x + y > 6") == Set(3, 10))
    assert(ids("x * 2 < y + 9") == Set(1, 2, 3))
    assert(ids("x > y") == Set(2, 10))
    // unbound / misused refs throw; '@' without an identifier throws
    assertThrows[IllegalArgumentException](parse("x > @nope", env))
    assertThrows[IllegalArgumentException](parse("x > @tags", env))
    assertThrows[IllegalArgumentException](parse("x in @lo", env))
    assertThrows[IllegalArgumentException](parse("x > @", env))
    // env is parse-time: no env means @refs are errors, as before
    assertThrows[IllegalArgumentException](parse("x > @lo"))
  }

  test("t57 parser: chained comparisons, not in, ~ & | spellings") {
    import graft.types.PredicateParser.parse
    val df = Seq((1, "a", 0.5), (2, "b", 0.9), (3, "a", 0.1), (10, "c", 0.5))
      .toDF("x", "s", "d")
    val env = Map[String, Any]("tags" -> Seq("a", "c"))
    def ids(p: String): Set[Int] =
      df.filter(parse(p, env)).select("x").as[Int].collect().toSet
    // chained comparison = Python's conjunction reading
    assert(ids("1 < x < 10") == Set(2, 3))
    assert(ids("1 <= x <= 3") == Set(1, 2, 3))
    assert(ids("0.1 < d < 0.9 and x < 5") == Set(1))
    // middle operand is a full arithmetic expression, evaluated once
    assert(ids("0 < x - 1 < 2") == Set(2))
    // not in: literal list and env list
    assert(ids("x not in (1, 10)") == Set(2, 3))
    assert(ids("s not in @tags") == Set(2))
    // pandas' ~ & | spellings at not/and/or precedence
    assert(ids("~(s == 'a') & x < 5") == Set(2))
    assert(ids("x == 1 | s == 'b' & d > 0.5") == Set(1, 2))
    assert(ids("(x == 1 | s == 'b') & d > 0.5") == Set(2))
    assert(ids("~(x in (1, 10))") == Set(2, 3))
    // malformed chains/memberships still throw
    for (bad <- Seq("x not (1)", "x not in", "1 < x <", "x & 1 == 1 &",
      "~", "x not in @nope"))
      assertThrows[IllegalArgumentException](parse(bad, env))
  }

  test("t57 parser: backtick columns, True/False keywords") {
    import graft.types.PredicateParser.parse
    val df = Seq((1, 10.0, true), (2, 3.5, false), (3, 8.0, true))
      .toDF("x", "net price", "is.hot")
    def ids(p: String): Set[Int] =
      df.filter(parse(p)).select("x").as[Int].collect().toSet
    // spaces and dots stay literal column names under backticks
    assert(ids("`net price` > 5") == Set(1, 3))
    assert(ids("`is.hot` == True") == Set(1, 3))
    assert(ids("`is.hot` != False and `net price` < 9") == Set(3))
    assert(ids("~`is.hot`") == Set(2))
    // backticked keyword is a column, bare keyword is the boolean
    val kw = Seq((1, true), (2, false)).toDF("x", "True")
    assert(kw.filter(parse("`True` == False")).select("x")
      .as[Int].collect().toSet == Set(2))
    for (bad <- Seq("`x", "`` > 1"))
      assertThrows[IllegalArgumentException](parse(bad))
  }

  test("t50: planted outlier flagged, clean group clean, MAD=0 -> null z") {
    // 20 tight values + one wild one per the rule's own arithmetic
    val base = (1 to 20).map(i => ("a", 10.0 + (i % 5))) :+ (("a", 1000.0))
    val clean = (1 to 20).map(i => ("b", 5.0 + (i % 3)))
    val const = (1 to 10).map(_ => ("c", 7.0))
    val df = (base ++ clean ++ const).toDF("event_type", "value")
    val med = df.groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
    val dev = df.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type").agg(expr("percentile(adev, 0.5)").as("mad"))
    val z = dev.join(broadcast(mad), Seq("event_type"))
      .withColumn("z",
        lit(0.6745) * (col("value") - col("med")) / expr("nullif(mad, 0.0d)"))
    val byType = z.groupBy("event_type")
      .agg(count(when(abs(col("z")) > 3.5, 1)).as("n_out"),
        count(when(col("z").isNull, 1)).as("n_null"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(byType("a")._1 == 1L)   // exactly the planted 1000.0
    assert(byType("b")._1 == 0L)
    assert(byType("c") == ((0L, 10L))) // constant group: MAD=0 -> all z null
  }

  test("t50 query runs on events with no null groups at sf") {
    val got = typesystem.TypeQueries.t50MadOutliers(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(!r.isNullAt(2) && !r.isNullAt(3)))
  }

  test("t51: codes follow FIRST OCCURRENCE, not alphabet or frequency") {
    val got = typesystem.TypeQueries.t51Factorize(spark, sf)
      .select("event_type", "code", "first_us")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // codes 0..k-1 dense, and strictly increasing in first-occurrence time
    assert(got.map(_._2).toSeq == got.indices.toSeq)
    assert(got.map(_._3).toSeq == got.map(_._3).sortBy(identity).toSeq)
    // shares sum to 1 exactly in the rounded sense
    val shares = typesystem.TypeQueries.t51Factorize(spark, sf)
      .agg(sum("share")).head().getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-9)
  }

  test("e10: recall curve is monotone in nProbe and ends above its start") {
    val rows = llm.LlmQueries.e10IvfRecallSweep(spark, sf)
      .select("nprobe", "recall").as[(Int, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"recall must not drop: $a -> $b")
    }
    assert(rows.last._2 > rows.head._2, "wider probes must help on this corpus")
  }

  test("e11: full-dim recall is exactly 1.0; prefix dims degrade informatively") {
    val rows = llm.LlmQueries.e11MatryoshkaSweep(spark, sf)
      .select("dims", "recall").as[(Int, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(8, 16, 32, 64))
    // d=64 is the ground truth itself — identical cut, identical
    // tiebreaks, so recall must be EXACTLY 1.0, not approximately
    assert(rows.last._2 == 1.0, s"full-dim recall ${rows.last._2}")
    // on unstructured (non-Matryoshka-trained) embeddings the 8-prefix
    // must lose most of the ranking — the honest negative result the
    // harness exists to surface
    assert(rows.head._2 < 0.8, s"8-dim recall suspiciously high ${rows.head}")
  }

  test("t52: 3-row rolling median equals the sorted middle, warm-ups null") {
    val got = typesystem.TypeQueries.t52RollingMedian(spark, sf)
      .select("user_id", "value", "roll_med")
      .collect()
    assert(got.nonEmpty)
    // re-derive per user from the ordered value sequence
    val byUser = typesystem.TypeQueries.t52RollingMedian(spark, sf)
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val medByPos = got.groupBy(_.getLong(0)).foreach { case (uid, rows) =>
      val vals = byUser(uid)
      rows.zipWithIndex.foreach { case (r, i) =>
        if (i < 2) assert(r.isNullAt(2), s"user $uid row $i must be warm-up null")
        else {
          val win = vals.slice(i - 2, i + 1).sorted
          assert(r.getDouble(2) == win(1), s"user $uid row $i")
        }
      }
    }
  }

  test("d15: KMV estimate is EXACT when k >= |union| (sketch = full set)") {
    // short texts -> few distinct 3-grams, well under k=64
    val docs = Seq(
      (1L, "abcdefgh abcdefgh", "s", 17L),
      (2L, "abcdefgh abcdxyzw", "s", 17L),
      (3L, "zzzz totally other", "s", 18L)).toDF("doc_id", "text", "source", "n_chars")
    val got = operators.Dedup.kmvCalibrationPairs(docs, "doc_id", "text",
        blockCols = Seq(col("source")), n = 3, k = 64, threshold = 0.0)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => ((r._1, r._2), (r._3, r._4))).toMap
    assert(got.size == 3)
    got.foreach { case (pair, (exact, est)) =>
      assert(est == exact, s"pair $pair: sketch covers the union, must be exact")
    }
    // and the (1,2) pair is genuinely similar while (1,3) is not
    assert(got((1L, 2L))._1 > 0.4 && got((1L, 3L))._1 < 0.1)
  }

  test("d15: estimate within KMV error envelope on the real corpus") {
    val rows = llm.LlmQueries.d15KmvCalibration(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    // 3-sigma envelope for a k=64 bottom-k estimator: sqrt(j(1-j)/k)
    rows.foreach { case (a, b, exact, est) =>
      val sigma = math.sqrt(math.max(exact * (1 - exact), 0.25 / 64) / 64)
      assert(math.abs(est - exact) <= 4 * sigma + 1e-9,
        s"pair ($a,$b): est $est vs exact $exact out of envelope")
    }
  }
}
