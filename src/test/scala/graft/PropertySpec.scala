package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The algebraic laws SURVEY.md §5 commits to, as scalacheck properties
  * over small generated tables: operators must satisfy them on ANY input,
  * not just the fixtures. Each law runs the real operator shapes (groupBy,
  * filter, pivot, window) through the shared local session.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)

  private def check(p: Prop, tag: String): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$tag: $r")
  }

  private val rowsGen: Gen[List[(String, Int, Double)]] =
    Gen.listOfN(40, for {
      k <- Gen.oneOf("a", "b", "c")
      q <- Gen.choose(1, 12)
      v <- Gen.choose(0, 1000)
    } yield (k, q, v / 100.0))

  test("group-count is invariant under row order") {
    check(Prop.forAll(rowsGen) { rows =>
      val df1 = rows.toDF("k", "q", "v")
      val df2 = scala.util.Random.shuffle(rows).toDF("k", "q", "v")
      def counts(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      counts(df1) == counts(df2)
    }, "group-count row-order invariance")
  }

  test("filter on the group key commutes with grouping") {
    check(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "q", "v")
      val filteredThenGrouped = df.filter(col("k") =!= "b")
        .groupBy("k").agg(sum("q").as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val groupedThenFiltered = df.groupBy("k").agg(sum("q").as("s"))
        .filter(col("k") =!= "b")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      filteredThenGrouped == groupedThenFiltered
    }, "filter/group commutation")
  }

  test("pivot row-sums equal the pre-pivot group counts") {
    val quarters = Seq("1", "2", "3", "4")
    check(Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "q", "v")
        .withColumn("quarter", (col("q") % 4 + 1).cast("string"))
      val pivoted = df.groupBy("k").pivot("quarter", quarters).count().na.fill(0)
      val rowSums = pivoted.collect()
        .map(r => r.getString(0) -> quarters.indices.map(i => r.getLong(i + 1)).sum)
        .toMap
      val groupCounts = df.groupBy("k").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rowSums == groupCounts
    }, "pivot row-sum law")
  }

  test("trailing-frame moving average of a constant column is that constant") {
    check(Prop.forAll(Gen.choose(1, 50), Gen.choose(-5.0, 5.0)) { (n, c) =>
      val df = (1 to n).map(i => (i, c)).toDF("i", "v")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy("i").rowsBetween(-2, 0)
      df.withColumn("ma", avg("v").over(w)).collect()
        .forall(r => math.abs(r.getDouble(2) - c) < 1e-12)
    }, "moving-average identity")
  }

  private val docGen: Gen[List[String]] = for {
    n <- Gen.choose(4, 8)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(9, 24)
      words <- Gen.listOfN(len, Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl"))
    } yield words.mkString(" "))
  } yield docs ::: docs.take(1) // force at least one exact duplicate

  private def asDocTable(docs: List[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graftprop").toString
    docs.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "t", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("segment dedup law: corpus-wide kept total equals the distinct segment count") {
    val p = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p, Prop.forAll(docGen) { docs =>
      val dir = asDocTable(docs)
      val rows = SparkEntry.queries("q113_segment_dedup")(spark, dir).collect()
      val distinctSegs = docs.flatMap(_.split(" ").grouped(10).map(_.mkString(" "))).toSet.size
      val keptTotal = rows.map(_.getLong(2)).sum
      val segTotal = rows.map(_.getLong(1)).sum
      val expectedSegs = docs.map(d => (d.split(" ").length + 9) / 10).sum
      keptTotal == distinctSegs.toLong && segTotal == expectedSegs.toLong
    })
    assert(r.passed, s"segment-dedup law: $r")
  }

  test("prefix-join law: per-doc degrees equal brute-force Jaccard >= 0.5 on any corpus") {
    val p = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p, Prop.forAll(docGen) { docs =>
      val dir = asDocTable(docs)
      val shingleSets = docs.zipWithIndex.map { case (t, i) =>
        val tk = t.split(" ").filter(_.nonEmpty)
        i.toLong -> tk.sliding(8).filter(_.length == 8).map(_.mkString(" ")).toSet
      }.toMap
      val ids = shingleSets.keys.toArray.sorted
      val deg = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val (sa, sb) = (shingleSets(ids(i)), shingleSets(ids(j)))
        if (sa.nonEmpty && sb.nonEmpty &&
            3L * (sa & sb).size >= sa.size + sb.size) {
          deg(ids(i)) += 1; deg(ids(j)) += 1
        }
      }
      val got = SparkEntry.queries("q120_prefix_join")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids.forall(id => got(id) == deg(id))
    })
    assert(r.passed, s"prefix-join completeness law: $r")
  }

  test("hll hash-family law: native hll_registers equals the Column bank on ANY keys") {
    // q126 shares q105's DuckDB oracle ONLY because the two formulations
    // hash identically — this is the mutation pin: change the md5
    // bucket/rank family in either HllAgg or the Column formulation and
    // some random key lands in a different register, breaking the pair
    // loudly instead of silently forking the sketches.
    val keyGen: Gen[List[String]] = Gen.listOfN(60, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.choose(0L, Long.MaxValue).map(_.toString),
      Gen.identifier.map(_.take(8))))
    val p = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p, Prop.forAll(keyGen) { keys =>
      val df = keys.toDF("k")
      val colBank = {
        val got = df.select(
            pmod(conv(substring(md5(col("k")), 1, 8), 16, 10).cast("long"),
              lit(64L)).as("bucket"),
            conv(substring(md5(col("k")), 9, 8), 16, 10).cast("long").as("w"))
          .withColumn("rho", when(col("w") === 0, lit(33))
            .otherwise(lit(33) - length(bin(col("w")))))
          .groupBy("bucket").agg(max("rho").as("m"))
          .collect().map(r => r.getLong(0).toInt -> r.getInt(1)).toMap
        (0 until 64).map(got.getOrElse(_, 0))
      }
      val native = df.agg(call_function("hll_registers", col("k")))
        .head().getSeq[Int](0)
      native == colBank
    })
    assert(r.passed, s"hll hash-family identity: $r")
  }

  test("bottom-k merge law: split-recompact equals one-shot on ANY rows, ties included") {
    // random (hash, value) rows WITH duplicates — the law must survive tie
    // groups cut at the k boundary, which is exactly where q132's (hh, v)
    // total order earns its keep
    val rowGen: Gen[List[(String, Double)]] = Gen.listOfN(60, for {
      h <- Gen.oneOf("aa", "ab", "ba", "bb", "ca", "cb", "cc", "dd")
      v <- Gen.choose(0, 5).map(_.toDouble)
    } yield (h, v))
    val k = 16
    def bottomK(rows: List[(String, Double)]): List[(String, Double)] =
      rows.sorted.take(k)
    check(Prop.forAll(rowGen, Gen.choose(2, 4)) { (rows, parts) =>
      val direct = bottomK(rows)
      val split = rows.zipWithIndex.groupBy(_._2 % parts).values
        .map(ch => bottomK(ch.map(_._1)))
      bottomK(split.flatten.toList) == direct
    }, "bottom-k merge identity")
    // and the Spark aggregate implements the same law: driver-side spec
    // vs bottomk_sorted on the same rows
    check(Prop.forAll(rowGen) { rows =>
      val want = bottomK(rows).map(_._2).sorted
      val got = rows.toDF("hh", "v")
        .agg(call_function("bottomk_sorted", col("hh"), col("v"), lit(k)))
        .head().getSeq[Double](0).toList
      got == want
    }, "bottomk_sorted vs driver-side spec")
  }

  test("triangle count law: degree-oriented count equals brute force on ANY graph") {
    // random small graphs: the oriented wedge-close count (q138's plan)
    // must equal the O(n^3) brute force whatever the degree distribution
    val edgeGen: Gen[List[(Long, Long)]] = Gen.listOfN(30, for {
      a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L) if a != b
    } yield (math.min(a, b), math.max(a, b))).map(_.distinct)
    val p = SCTest.Parameters.default.withMinSuccessfulTests(8)
    val r = SCTest.check(p, Prop.forAll(edgeGen) { edges =>
      val adj = edges.toSet
      val vs = edges.flatMap(e => List(e._1, e._2)).distinct.sorted
      val brute = (for {
        i <- vs.indices; j <- (i + 1) until vs.length; l <- (j + 1) until vs.length
        if adj((vs(i), vs(j))) && adj((vs(j), vs(l))) && adj((vs(i), vs(l)))
      } yield 1).size
      // q138's oriented formulation, driver-side: orient by (degree, id),
      // wedges at the min vertex, close on the canonical list
      val deg = edges.flatMap(e => List(e._1, e._2)).groupBy(identity)
        .map { case (x, xs) => x -> xs.size }
      def key(x: Long) = (deg(x), x)
      val dir = edges.map { case (u, v) =>
        if (Ordering[(Int, Long)].lt(key(u), key(v))) (u, v) else (v, u)
      }
      val bySrc = dir.groupBy(_._1)
      val oriented = bySrc.values.map { out =>
        val ts = out.map(_._2).sorted
        (for {
          i <- ts.indices; j <- (i + 1) until ts.length
          if adj((math.min(ts(i), ts(j)), math.max(ts(i), ts(j))))
        } yield 1).size
      }.sum
      oriented == brute
    })
    assert(r.passed, s"triangle orientation law: $r")
  }

  test("salted join result equals the plain join result") {
    val factGen = Gen.listOfN(30, for {
      k <- Gen.choose(1, 5); v <- Gen.choose(0, 100)
    } yield (k.toLong, v))
    check(Prop.forAll(factGen) { fact =>
      val left = fact.toDF("fk", "v")
      val dim = (1 to 5).map(i => (i.toLong, s"d$i")).toDF("pk", "name")
      val plain = left.join(dim, col("fk") === col("pk"))
        .select("fk", "v", "name").collect().map(_.toSeq).sortBy(_.toString)
      val salted = graft.operators.Joins.saltedJoin(left, dim, "fk", "pk", salts = 4)
        .select("fk", "v", "name").collect().map(_.toSeq).sortBy(_.toString)
      plain.toSeq == salted.toSeq
    }, "salted-join equivalence")
  }

  test("Misra-Gries superset law: any f > n/(k+1) key survives ANY split + merge tree") {
    // driver-side mirror of MgCandidates.update/merge — the law must hold
    // for every partitioning of the stream, which is what makes the
    // candidate-then-verify output of q142 deterministic
    val k = 4
    def mgUpdate(m: Map[String, Long], key: String): Map[String, Long] =
      if (m.contains(key)) m.updated(key, m(key) + 1)
      else if (m.size < k) m.updated(key, 1L)
      else m.view.mapValues(_ - 1).filter(_._2 > 0).toMap
    def mgMerge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = (a.keySet ++ b.keySet).map(x =>
        x -> (a.getOrElse(x, 0L) + b.getOrElse(x, 0L))).toMap
      if (sum.size <= k) sum
      else {
        val sub = sum.values.toList.sorted(Ordering[Long].reverse)(k)
        sum.view.mapValues(_ - sub).filter(_._2 > 0).toMap
      }
    }
    val streamGen: Gen[List[String]] = Gen.listOfN(100,
      Gen.frequency((8, Gen.const("hot")), (3, Gen.const("warm")),
        (2, Gen.oneOf("c1", "c2", "c3")), (1, Gen.oneOf((1 to 12).map(i => s"t$i")))))
    check(Prop.forAll(streamGen, Gen.choose(1, 5)) { (stream, parts) =>
      val n = stream.length
      val truth = stream.groupBy(identity).collect {
        case (key, xs) if xs.length.toLong * (k + 1) > n => key
      }.toSet
      val merged = stream.zipWithIndex.groupBy(_._2 % parts).values
        .map(ch => ch.map(_._1).foldLeft(Map.empty[String, Long])(mgUpdate))
        .foldLeft(Map.empty[String, Long])(mgMerge)
      truth.subsetOf(merged.keySet) && merged.size <= k
    }, "MG superset + capacity law")
    // the native aggregate obeys the same law on the same stream
    check(Prop.forAll(streamGen) { stream =>
      val n = stream.length
      val truth = stream.groupBy(identity).collect {
        case (key, xs) if xs.length.toLong * (k + 1) > n => key
      }.toSet
      val cand = stream.toDF("k0").repartition(3)
        .agg(call_function("mg_candidates", col("k0"), lit(k)))
        .head().getSeq[String](0).toSet
      truth.subsetOf(cand) && cand.size <= k
    }, "mg_candidates superset law")
  }

  test("weighted-sample law: selection rate rises with weight across salt redraws") {
    // 20 heavy docs (w=5) vs 180 light docs (w=1), sample 64 of 200; over
    // many salts the realized inclusion rates must straddle the analytic
    // ones (~0.79 heavy, ~0.27 light from solving 180t + 20(1-(1-t)^5)=64)
    val docs = (0 until 200).map { i =>
      val chars = if (i < 20) 512L else 64L
      (i.toLong, "x", "en", "t", chars)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftws").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val draws = 30
    var heavy = 0L; var light = 0L
    (1 to draws).foreach { saltIdx =>
      val picked = graft.operators.Pipeline
        .weightedSampleRun(spark, dir, s"s$saltIdx")
        .select("doc_id").collect().map(_.getLong(0))
      heavy += picked.count(_ < 20)
      light += picked.count(_ >= 20)
    }
    val hr = heavy.toDouble / (20.0 * draws)
    val lr = light.toDouble / (180.0 * draws)
    assert(hr > 0.65 && hr < 0.92, s"heavy inclusion rate $hr outside [0.65, 0.92]")
    assert(lr > 0.20 && lr < 0.34, s"light inclusion rate $lr outside [0.20, 0.34]")
    assert(hr / lr > 2.0, s"weighting ratio ${hr / lr} not > 2")
  }

  test("q148 k-core peeling: 4-clique survives, tail peels in round one, then fixpoint") {
    // graph: 4-clique {1,2,3,4} + path tail 1-5-6; every edge is realized
    // as TWO two-part orders so it clears the repeat-co-purchase cut.
    // 3-core = the clique; 5 (deg 2) and 6 (deg 1) peel together in round
    // 1 under SYNCHRONOUS peeling, and every later round is a no-op.
    val edgesList = List((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (5L, 6L))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftcore").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val traj = SparkEntry.queries("q148_kcore_peel")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(traj.head === ((1, 2L, 4L, 10L)))
    assert(traj.tail.forall { case (_, rm, al, ck) => rm == 0L && al == 4L && ck == 10L },
      traj.mkString(", "))
  }

  test("q155 label propagation: two triangles converge to min-id communities; single co-purchase is no edge") {
    // two triangles {1,2,3} and {10,11,12}, every edge realized twice to
    // clear the m >= 2 cut; one ONE-shot co-purchase (3,10) must NOT
    // become an edge, keeping the communities separate. Hand-simulated
    // synchronous LPA with min-label tie-break converges each triangle
    // to its smallest id within 3 rounds.
    val edgesList = List((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    } ++ List((100L, 3L), (100L, 10L))
    val dir = java.nio.file.Files.createTempDirectory("graftlpa").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q155_label_propagation")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet === Set((1L, 3L, 1L, 6L), (10L, 3L, 10L, 33L)))
  }

  test("q202 modularity: bridged triangles give the hand-computed exact rational") {
    // two triangles {1,2,3} and {10,11,12} joined by bridge (3,10), every
    // edge realized twice for the m >= 2 cut. LPA(3) converges to
    // communities {1,2,3} and {10,11,12} (hand-simulated; the bridge's
    // one vote never outnumbers the triangle's two). m=7, m2=14,
    // d_A=d_B=7, intra2=6+6 → q_num = 14·12 − 98 = 70, q_den = 196,
    // ppm = 70e6 div 196 = 357142.
    val edgesList = List((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftmod").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q202_modularity")(spark, dir).head()
    assert((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_communities"),
      r.getAs[Long]("m_edges"), r.getAs[Long]("q_num"),
      r.getAs[Long]("q_den"), r.getAs[Long]("modularity_ppm"))
      === ((6L, 2L, 7L, 70L, 196L, 357142L)), r.toString)
  }

  test("q217 item recs: multiplicities rank partners, ties break to the smaller part, singles are cut") {
    import spark.implicits._
    // part 1 co-buys: with 2 in 3 orders, with 3/4/5 in 2 orders each →
    // top-3 = 2, then 3 and 4 by the tie-break; (6,7) co-occur once → cut
    val baskets = List(
      List(1L, 2L), List(1L, 2L), List(1L, 2L),
      List(1L, 3L), List(1L, 3L), List(1L, 4L), List(1L, 4L),
      List(1L, 5L), List(1L, 5L), List(6L, 7L))
    val rows = baskets.zipWithIndex.flatMap { case (ps, o) =>
      ps.map(p => (o.toLong, p))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftrecs").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val df = SparkEntry.queries("q217_item_recs")(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.toList === List(
      (1L, 1, 2L, 3L), (1L, 2, 3L, 2L), (1L, 3, 4L, 2L),
      (2L, 1, 1L, 3L), (3L, 1, 1L, 2L), (4L, 1, 1L, 2L),
      (5L, 1, 1L, 2L)), got.mkString(","))
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank<=3 must compile to WindowGroupLimit")
  }

  test("q223 degree power-law: a planted star gives slope exactly -1") {
    import spark.implicits._
    // star 1-{2,3,4,5}, every edge twice: degree histogram {1:4, 4:1} →
    // milli-nat points (0, 1386) and (1386, 0) → slope -1, intercept
    // 1386 milli-nats
    val edges = List((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val rows = edges.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftplaw").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q223_degree_powerlaw")(spark, dir).head()
    assert((r.getAs[Long]("n"), r.getAs[Long]("slope_micro"),
      r.getAs[Long]("intercept_micro"))
      === ((2L, -1000000L, 1386000L)), r.toString)
  }

  test("q223 power-law fit: a degree-regular graph yields NULL, not NaN-cast-to-0") {
    import spark.implicits._
    // 4-cycle 1-2-3-4-1, every edge realized twice for the m >= 2 cut:
    // every node has degree 2, the histogram is ONE point, the OLS
    // denominator n*sxx - sx*sx is 0 and the raw division is NaN —
    // which Spark's cast would fold to 0 while DuckDB errors. The
    // guard must emit NULL in both engines instead.
    val edgesList = List((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftplawreg").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q223_degree_powerlaw")(spark, dir).head()
    assert(r.getAs[Long]("n") === 1L, r.toString)
    assert(r.isNullAt(r.fieldIndex("slope_micro")), r.toString)
    assert(r.isNullAt(r.fieldIndex("intercept_micro")), r.toString)
  }

  test("q210 SCC classes: a directed cycle forms one class; a chain forms none") {
    import spark.implicits._
    // directed temporal edges u->v need >= 2 DISTINCT customers ordering
    // u strictly before v: two customers per edge, each placing exactly
    // the two orders that realize it. Cycle 1->2->3->1 is one SCC (all
    // fwd/bwd labels collapse to 1); chain 10->11 must stay trivial.
    val edges = List((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L))
    val rows = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      (0 to 1).flatMap { c =>
        val cust = 100L + 2 * i + c
        val (o1, o2) = (1000L + 4 * i + 2 * c, 1000L + 4 * i + 2 * c + 1)
        List((o1, cust, java.sql.Date.valueOf("2020-01-01"), u),
          (o2, cust, java.sql.Date.valueOf("2020-02-01"), v))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graftscc").toString
    rows.map { case (ok, ck, dt, _) => (ok, ck, dt) }.distinct
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    rows.map { case (ok, _, _, p) => (ok, p) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q210_scc_classes")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toList === List((1L, 1L, 3L, 1L, 6L)), got.mkString(","))
  }

  test("q237 winnowing law: brute-force fingerprints match, density band holds, on any corpus") {
    // Brute force mirrors the definition, not the packed-key plan: per
    // window of 4 gram hashes select (min hash, rightmost position on
    // ties), dedup per doc. The tiny 6-word alphabet forces heavy gram
    // repetition, which is exactly what stresses the tie rule. Density:
    // winnowing selects at least one fingerprint per window and one
    // fingerprint covers at most w windows, so n_windows/w <= n_fp <=
    // n_windows whenever windows exist.
    val p = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p, Prop.forAll(docGen) { docs =>
      val dir = asDocTable(docs)
      val expected = docs.zipWithIndex.map { case (t, i) =>
        val tk = t.split("\\s+").filter(_.nonEmpty)
        val hs = tk.sliding(4).filter(_.length == 4).map(g =>
          java.lang.Long.parseLong(
            graft.functions.Hashing.md5hex(g.mkString(" ")).substring(0, 8), 16))
          .toArray
        val fps = (0 to hs.length - 4).map { p0 =>
          val win = (p0 until p0 + 4)
          val mn = win.map(hs).min
          val pos = win.filter(q => hs(q) == mn).max
          (mn, pos + 1L) // 1-based positions, as in the query
        }.toSet
        i.toLong -> ((hs.length.toLong, math.max(hs.length - 3, 0).toLong, fps))
      }.toMap
      SparkEntry.queries("q237_winnow_fingerprints")(spark, dir).collect()
        .forall { r =>
          val (ng, nw, fps) = expected(r.getAs[Long]("doc_id"))
          val nf = r.getAs[Long]("n_fp")
          r.getAs[Long]("n_grams") == ng &&
          r.getAs[Long]("n_windows") == nw &&
          nf == fps.size.toLong &&
          r.getAs[Long]("h_checksum") == fps.iterator.map(_._1).sum &&
          r.getAs[Long]("pos_checksum") == fps.iterator.map(_._2).sum &&
          (nw == 0 || (nf * 4 >= nw && nf <= nw))
        }
    })
    assert(r.passed, s"winnowing law: $r")
  }

  test("q240 decontam law: an exact shingle hit ALWAYS implies a fingerprint hit") {
    // The winnowing guarantee as a corpus-level invariant: an 8-token
    // shared run contains a full 4-gram window with an identical hash
    // sequence in both documents, whose window-min is selected in both —
    // so q74-style exact contamination without a fingerprint hit is
    // impossible. The sketch may over-flag (7-token overlaps), never
    // under-flag. Checked on generated corpora (heavy repetition from
    // the 6-word alphabet) and on the real fixture.
    val p = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p, Prop.forAll(docGen) { docs =>
      val dir = asDocTable(docs)
      SparkEntry.queries("q240_fp_decontam")(spark, dir).collect()
        .forall(r => !(r.getAs[Boolean]("exact_flag") &&
          !r.getAs[Boolean]("fp_flag")))
    })
    assert(r.passed, s"decontam law: $r")
    val fixture = SparkEntry.queries("q240_fp_decontam")(spark, sf).collect()
    assert(fixture.forall(r => !(r.getAs[Boolean]("exact_flag") &&
      !r.getAs[Boolean]("fp_flag"))))
  }

  test("q236 BPE encode: hand-computed merge chains, delimiter-stealing repeats included") {
    // the: t|h -> th, then the second-level th|e -> the: ONE token.
    // anand: a|n fires twice (the double-delimiter representation keeps
    //   the adjacent matches from stealing each other's boundary), then
    //   an|d: [an, and] = 2 tokens.
    // matter: e|r -> er, a|t -> at: [m, at, t, er] = 4 tokens.
    // aaa: no merge applies: 3 tokens.
    val dir = asDocTable(List("the anand", "matter aaa"))
    val rows = SparkEntry.queries("q236_bpe_encode")(spark, dir).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_words") === 4L, r.toString)
    assert(r.getAs[Long]("n_word_types") === 4L, r.toString)
    assert(r.getAs[Long]("n_chars") === (3 + 5 + 6 + 3).toLong, r.toString)
    assert(r.getAs[Long]("n_tokens") === (1 + 2 + 4 + 3).toLong, r.toString)
  }

  test("q210 SCC classes: the fl/bl-pair diamond is NOT reported as an SCC") {
    import spark.implicits._
    // The unsoundness counterexample for pair-grouping: 1->2, 1->3,
    // 2->0, 3->0. Nodes 1, 2, 3 all share (fl=1, bl=0) — same
    // min-ancestor AND same min-descendant — yet 2 and 3 have no path
    // between them, so pair-grouping would report a false 3-member SCC.
    // Only fl = bl guarantees mutual reachability (through the shared
    // extremal node); this DAG has no cycle, so the sound output is
    // EMPTY.
    val edges = List((1L, 2L), (1L, 3L), (2L, 0L), (3L, 0L))
    val rows = edges.zipWithIndex.flatMap { case ((u, v), i) =>
      (0 to 1).flatMap { c =>
        val cust = 100L + 2 * i + c
        val (o1, o2) = (1000L + 4 * i + 2 * c, 1000L + 4 * i + 2 * c + 1)
        List((o1, cust, java.sql.Date.valueOf("2020-01-01"), u),
          (o2, cust, java.sql.Date.valueOf("2020-02-01"), v))
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graftsccdag").toString
    rows.map { case (ok, ck, dt, _) => (ok, ck, dt) }.distinct
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    rows.map { case (ok, _, _, p) => (ok, p) }
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q210_scc_classes")(spark, dir).collect()
    assert(got.isEmpty, got.mkString(","))
  }

  test("q167 BFS: chain walks one hop per round, disconnected pair lands in the unreached bucket") {
    // graph: chain 50-1-2-3 (50 is the only mod-50 seed) plus a
    // disconnected pair 7-8; every edge realized twice for the m >= 2
    // cut. Expected hop profile: 50 at dist 0, then 1, 2, 3 one hop per
    // round; 7 and 8 stay unreached (dist -1, checksum 15).
    val edgesList = List((50L, 1L), (1L, 2L), (2L, 3L), (7L, 8L))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }.toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftbfs").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q167_bfs_hops")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.toList === List((-1, 2L, 15L), (0, 1L, 50L),
      (1, 1L, 1L), (2, 1L, 2L), (3, 1L, 3L)))
  }

  test("q159 GNN sampling: star graph caps the hub at 5, spokes see the hub's sample; plan uses WindowGroupLimit") {
    // hub 100 with 10 spokes 1..10 (every edge realized twice for the
    // m >= 2 cut). The hub samples exactly 5 of its 10 neighbors — which
    // 5 is hash-chosen, but the AGGREGATES are sample-invariant: every
    // spoke has degree 1, and every spoke's one sampled neighbor is the
    // hub, whose own sample is 5 degree-1 spokes.
    val edgesList = (1L to 10L).map(sp => (100L, sp))
    val rows = edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    }
    val dir = java.nio.file.Files.createTempDirectory("graftgnn").toString
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q159_gnn_sample")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // hub's 2-hop rows = each of its 5 sampled spokes' sample = 5 × {hub}
    assert(got(100L) === ((10L, 5L, 5L, 50L, 1L)))
    (1L to 10L).foreach { sp =>
      val (dg, n1, n2, sd2, nd2) = got(sp)
      assert(dg === 1L && n1 === 1L && n2 === 5L && sd2 === 5L && nd2 === 5L,
        s"spoke $sp: $dg $n1 $n2 $sd2 $nd2")
    }
    val plan = SparkEntry.queries("q159_gnn_sample")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank<=S filter must compile to WindowGroupLimit")
  }

  test("q177 link prediction: square diagonals outrank path/star candidates; triangle pairs are excluded as adjacent") {
    // graph (every edge realized twice for the m >= 2 cut):
    //   path 1-2-3            → candidate (1,3): cn=1, ra=1e6 div deg(2)=500000
    //   star 10-{11,12,13}    → spoke pairs: cn=1, ra=1e6 div 3=333333
    //   square 20-21-22-23-20 → diagonals (20,22),(21,23): cn=2, ra=2·500000
    //   triangle 30-31-32     → all pairs adjacent → anti-joined away
    val edgesList = List((1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L),
      (30L, 31L), (31L, 32L), (30L, 32L))
    val rows = (edgesList.zipWithIndex.flatMap { case ((a, b), i) =>
      List((2L * i, a), (2L * i, b), (2L * i + 1, a), (2L * i + 1, b))
    } ++
      // negative pin for the m >= 2 repeat-co-purchase cut: (40,41) co-occur
      // in exactly ONE order, so no edge may form; they touch nothing else,
      // so any trace of 40/41 in the output means the cut weakened to m >= 1.
      List((1000L, 40L), (1000L, 41L))).toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("graftlp").toString
    rows.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q177_link_predict")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(!got.exists(r => Set(r._1, r._2).exists(Set(40L, 41L))),
      "single-co-occurrence pair (40,41) must be cut by m >= 2")
    assert(got.toList === List(
      (20L, 22L, 2L, 1000000L), (21L, 23L, 2L, 1000000L),
      (1L, 3L, 1L, 500000L),
      (11L, 12L, 1L, 333333L), (11L, 13L, 1L, 333333L),
      (12L, 13L, 1L, 333333L)))
  }

  test("weighted-quantile law: histogram reads equal brute-force weighted order statistics on ANY rows") {
    // the q209 foundation: smallest value with 4·cum >= q·total over the
    // (flag, value) weight histogram IS the weighted quantile, whatever
    // the weights and tie structure
    val rowGen = Gen.listOfN(30, for {
      f <- Gen.oneOf("A", "B")
      q <- Gen.choose(1, 6)
      w <- Gen.choose(1, 5)
    } yield (f, q.toDouble, w.toDouble))
    val p5 = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p5, Prop.forAll(rowGen) { rows =>
      val dir = java.nio.file.Files.createTempDirectory("graftwql").toString
      rows.map { case (f, q, w) => (f, w, q) }
        .toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      // brute force: expand each (qty, weight-cents) row and read ranks
      def brute(vals: List[(Long, Long)], num: Long, den: Long): Long = {
        val total = vals.map(_._2).sum
        val sorted = vals.groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .toList.sortBy(_._1)
        var cum = 0L
        sorted.collectFirst {
          case (v, w) if { cum += w; cum * den >= total * num } => v
        }.get
      }
      val got = SparkEntry.queries("q209_weighted_quantiles")(spark, dir)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      rows.groupBy(_._1).forall { case (f, rs) =>
        val vals = rs.map { case (_, q, w) =>
          (q.toLong, math.round(w * 100)) }
        got(f) == ((brute(vals, 1, 4), brute(vals, 1, 2), brute(vals, 3, 4)))
      }
    })
    assert(r.passed, s"weighted-quantile law: $r")
  }

  test("vocab-coverage law: two-phase checkpoints equal the brute-force ranked cumulative on ANY corpus") {
    val docGen2: Gen[List[String]] = Gen.listOfN(4, Gen.listOfN(8,
      Gen.oneOf("aa", "bb", "cc", "dd", "ee")).map(_.mkString(" ")))
    val p5 = SCTest.Parameters.default.withMinSuccessfulTests(5)
    val r = SCTest.check(p5, Prop.forAll(docGen2) { docs =>
      val dir = asDocTable(docs)
      val freq = docs.flatMap(_.split(" ")).groupBy(identity)
        .map { case (t, xs) => (t, xs.size.toLong) }.toList
      val ranked = freq.sortBy { case (t, c) => (-c, t) }
      val total = freq.map(_._2).sum
      def cover(pct: Long): Long = {
        var cum = 0L
        ranked.zipWithIndex.collectFirst {
          case ((_, c), i) if { cum += c; cum * 100 >= total * pct } =>
            (i + 1).toLong
        }.get
      }
      val row = SparkEntry.queries("q219_vocab_coverage")(spark, dir).head()
      (row.getAs[Long]("total_tokens"), row.getAs[Long]("vocab_size"),
        row.getAs[Long]("v50"), row.getAs[Long]("v90"),
        row.getAs[Long]("v95"), row.getAs[Long]("v99")) ==
        ((total, freq.size.toLong, cover(50), cover(90), cover(95),
          cover(99)))
    })
    assert(r.passed, s"vocab-coverage law: $r")
  }

  test("bitmap distinct law: popcounted bitmaps equal COUNT(DISTINCT) on ANY user multiset") {
    // the q184/q190/q191 foundation: (word = id div 32, bit_or of masks,
    // Σ bit_count) is EXACTLY distinct-count for any input, duplicates
    // and word-boundary ids included
    val idsGen = Gen.listOfN(60, Gen.choose(0L, 100L))
    check(Prop.forAll(idsGen) { ids =>
      val df = ids.toDF("user_id")
      val viaBitmap = df
        .select(expr("user_id div 32").as("w"),
          expr("CAST(user_id % 32 AS INT)").as("b"))
        .groupBy("w")
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("bits"))
        .agg(sum(expr("bit_count(bits)"))).head().getLong(0)
      viaBitmap == ids.distinct.size.toLong
    }, "bitmap distinct == exact distinct")
  }

  test("first-collision law: a banded join kept at its lowest colliding band equals the banded join plus distinct, on ANY keys") {
    // the rule behind q65 (nibbles), q256 (bytes), q36/q189 (int buckets)
    // and the minhash band joins (strings): per shape, random keys with
    // nulls (a null never collides), then the all-collide and no-collide
    // extremes; both a self-join (id < id) and a two-table probe (q114's
    // delta-vs-index shape)
    import org.apache.spark.sql.{Column, DataFrame}
    def law(df: DataFrame, n: Int): Boolean = {
      val banded = df.select(col("id"), col("ks"),
        posexplode(col("ks")).as(Seq("band", "k")))
      val first = graft.functions.Hashing.firstCollision(
        (0 until n).map(i => (col("a.ks")(i), col("b.ks")(i))))
      def pairs(l: DataFrame, r: DataFrame, on: Column, once: Boolean) = {
        val cond = col("a.band") === col("b.band") && col("a.k") === col("b.k") && on
        val j = l.alias("a").join(r.alias("b"),
            if (once) cond && col("a.band") === first else cond)
          .select(col("a.id"), col("b.id"))
        (if (once) j else j.distinct()).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      }
      def same(l: DataFrame, r: DataFrame, on: Column) =
        pairs(l, r, on, once = true) == pairs(l, r, on, once = false)
      same(banded, banded, col("a.id") < col("b.id")) &&
        same(banded.filter(col("id") % 3 === 0), banded.filter(col("id") % 3 =!= 0), lit(true))
    }
    def shape[A](tag: String, n: Int, key: Gen[A], unique: Int => A,
        toDf: List[(Long, List[Option[A]])] => DataFrame): Unit = {
      def df(rows: List[List[Option[A]]]) =
        toDf(rows.zipWithIndex.map { case (ks, i) => (i.toLong, ks) })
      val row = Gen.listOfN(n,
        Gen.frequency(1 -> Gen.const(Option.empty[A]), 5 -> key.map(Option(_))))
      check(Prop.forAll(Gen.listOfN(30, row))(rows => law(df(rows), n)),
        s"first-collision law, $tag")
      val collide = List.tabulate(n)(b => Option(unique(b)))
      assert(law(df(List.fill(12)(collide)), n), s"$tag: all collide")
      assert(law(df(List.tabulate(12)(i => List.fill(n)(Option(unique(i))))), n),
        s"$tag: none collide")
    }
    shape[Int]("nibbles", 4, Gen.choose(0, 15), identity, _.toDF("id", "ks"))
    shape[Long]("bytes", 7, Gen.choose(0L, 3L), _.toLong, _.toDF("id", "ks"))
    shape[Int]("int buckets", 8, Gen.choose(0, 5), identity, _.toDF("id", "ks"))
    shape[String]("strings", 3, Gen.oneOf("a-b", "c-d", "e-f"), i => s"$i-$i",
      _.toDF("id", "ks"))
  }

  test("skyline law: the level-reduction plan equals brute-force dominance on ANY point set") {
    val ptsGen = Gen.listOfN(25, for {
      p <- Gen.choose(1, 8)
      t <- Gen.choose(1, 8)
    } yield (p, t))
    check(Prop.forAll(ptsGen) { pts =>
      val dir = java.nio.file.Files.createTempDirectory("graftskyp").toString
      pts.zipWithIndex.map { case ((p, t), i) =>
        (i.toLong, i.toLong, "O", p.toDouble,
          java.sql.Timestamp.valueOf(f"1995-01-$t%02d 00:00:00"), "X")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val got = SparkEntry.queries("q193_skyline")(spark, dir).collect()
        .map(r => (r.getAs[Long]("pq") / 100, // cents back to the gen domain
          r.getAs[java.sql.Date]("dt").toLocalDate.getDayOfMonth,
          r.getAs[Long]("n_orders"))).toSet
      // brute force: weak dominance (≥ both axes, > at least one)
      val sky = pts.distinct.filter { case (p, t) =>
        !pts.exists { case (p2, t2) =>
          p2 >= p && t2 >= t && (p2 > p || t2 > t) }
      }
      val want = sky.map { case (p, t) =>
        (p.toLong, t, pts.count(_ == ((p, t))).toLong) }.toSet
      got == want
    }, "skyline level reduction == brute-force dominance")
  }

  test("KS drift law: D stays in [0, 1e6], and identical halves give exactly 0") {
    val valsGen = Gen.listOfN(12, Gen.choose(1, 50))
    check(Prop.forAll(valsGen) { vs =>
      val dir = java.nio.file.Files.createTempDirectory("graftksp").toString
      // mirror the SAME multiset into both halves of a pinned date span
      val rows = vs.map(v => (v, "1995-01-01")) ++ vs.map(v => (v, "1995-01-10"))
      rows.zipWithIndex.map { case ((v, day), i) =>
        (i.toLong, i.toLong, "O", v.toDouble,
          java.sql.Timestamp.valueOf(s"$day 00:00:00"), "X")
      }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val r = SparkEntry.queries("q187_ks_drift")(spark, dir).head()
      r.getAs[Long]("d_ppm") == 0L &&
        r.getAs[Long]("n1") == vs.size.toLong &&
        r.getAs[Long]("n2") == vs.size.toLong
    }, "KS mirrored halves == 0")
  }

  test("q257 Brandes law: k = |V| sampled betweenness equals exact Brandes (same ppm discipline) on planted graphs; path closed form") {
    // driver-side exact Brandes with the operator's OWN integer-ppm floor
    // discipline (per-edge floorDiv before the sum) — with every node as
    // a source, the sampled estimator must reproduce it node for node
    def exactPpm(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = (edges ++ edges.map(e => (e._2, e._1)))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val nodes = adj.keys.toSeq.sorted
      val bc = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for (s <- nodes) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1L)
        var level = Seq(s)
        while (level.nonEmpty) {
          val nextSig = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
          for (u <- level; w <- adj(u) if !dist.contains(w)) nextSig(w) += sigma(u)
          val nd = dist(level.head) + 1
          val next = nextSig.keys.toSeq.sorted
          next.foreach { w => dist(w) = nd; sigma(w) = nextSig(w) }
          level = next
        }
        val delta = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
        for (u <- dist.keys.toSeq.sortBy(x => -dist(x))) {
          delta(u) = adj(u).filter(w => dist.get(w).contains(dist(u) + 1))
            .map(w => Math.floorDiv(sigma(u) * (1000000L + delta(w)), sigma(w))).sum
        }
        for (x <- dist.keys if x != s) bc(x) += delta(x)
      }
      nodes.map(x => x -> bc(x)).toMap
    }
    def runOp(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
      val dir = graft.Scratch.dir("graft_btw_law")
      val ed = edges.toDF("u", "v")
      ed.unionByName(ed.select(col("v").as("u"), col("u").as("v")))
        .write.mode("overwrite").parquet(dir)
      val srcs = spark.read.parquet(dir).select(col("u").as("s")).distinct()
      operators.Graph.brandesRun(spark, dir, srcs, "btwlaw")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    // path 1-2-3-4-5: sigma = 1 everywhere so the ppm arithmetic is
    // lossless and the ordered-pair closed form is exact: interior node
    // dependency = 2 · |left side| · |right side| (in ppm)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val opPath = runOp(path)
    val exPath = exactPpm(path)
    assert(opPath.view.mapValues(_._1).toMap == exPath, s"path: $opPath vs $exPath")
    assert(exPath == Map(1L -> 0L, 2L -> 6000000L, 3L -> 8000000L,
      4L -> 6000000L, 5L -> 0L))
    assert(opPath.values.forall(_._2 == 4L), "path: every node reached by the 4 other sources")
    // diamond + tail (1-2, 1-3, 2-4, 3-4, 4-5, 5-6): sigma(1→4) = 2, so
    // the backward pass floor-divides odd ppm masses — pins the exact
    // rounding the oracle's // reproduces, not just round numbers
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
    val opD = runOp(diamond)
    val exD = exactPpm(diamond)
    assert(opD.view.mapValues(_._1).toMap == exD, s"diamond: $opD vs $exD")
    assert(opD.values.forall(_._2 == 5L))
  }

  test("q280 walk law: the md5-argmin walks equal a driver-side simulation on a planted graph, step for step") {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // path 1-2-3-4 plus a disjoint triangle 5-6-7: exercises degree-1
    // bounce-back, midpoint choice, and cycle traversal
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L))
    val both = edges ++ edges.map(e => (e._2, e._1))
    val adj = both.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val dir = graft.Scratch.dir("graft_walk_law")
    both.toDF("u", "v").write.mode("overwrite").parquet(dir)
    val got = operators.Graph.walkRun(spark, dir).orderBy("step").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // simulate: every node walks; at step t the next node minimizes
    // (md5("o:t:v"), v) over current neighbors
    var pos = adj.keys.toSeq.sorted.map(o => o -> o).toMap
    val expected = (0 to operators.Graph.walkLen).map { t =>
      if (t > 0) pos = pos.map { case (o, x) =>
        o -> adj(x).minBy(v => (md5hex(s"$o:$t:$v"), v))
      }
      (t, pos.size.toLong, pos.values.toSet.size.toLong, pos.values.sum)
    }
    assert(got.toList === expected.toList,
      s"got ${got.mkString(",")} expected ${expected.mkString(",")}")
  }

  test("q291 exactness law: the gaps-and-islands run length equals a brute-force token LCS on random binary-alphabet corpora") {
    // the suffix-array-free claim, checked against the O(n·m) DP oracle:
    // a maximal run of R consecutive seed hits certifies exactly R+7
    // shared tokens — on a 2-token alphabet long accidental overlaps are
    // common, exercising runs well past the seed
    def lcs(x: IndexedSeq[String], y: IndexedSeq[String]): Int = {
      val dp = Array.ofDim[Int](x.length + 1, y.length + 1)
      var best = 0
      for (i <- 1 to x.length; j <- 1 to y.length)
        if (x(i - 1) == y(j - 1)) {
          dp(i)(j) = dp(i - 1)(j - 1) + 1
          if (dp(i)(j) > best) best = dp(i)(j)
        }
      best
    }
    val tokGen = Gen.listOfN(25, Gen.oneOf("a", "b"))
    val corpusGen = for {
      bench <- tokGen
      d10 <- tokGen; d11 <- tokGen; d12 <- tokGen
    } yield (bench, List(d10, d11, d12))
    check(Prop.forAll(corpusGen) { case (bench, corpus) =>
      val docs = ((5L, bench) :: corpus.zipWithIndex.map {
        case (t, i) => (10L + i, t)
      }).map { case (id, t) => (id, t.mkString(" "), "en", "s", 50L) }
      val dir = java.nio.file.Files.createTempDirectory("graftlcsp").toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q291_exact_substring")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      corpus.zipWithIndex.forall { case (t, i) =>
        val l = lcs(t.toIndexedSeq, bench.toIndexedSeq)
        got(10L + i) == (if (l >= 8) l.toLong else 0L)
      }
    }, "q291 run length ≡ brute-force LCS (≥ seed)")
  }

  test("q309 SPRT law: the envelope-pruned two-phase walk equals the direct per-arm walk on random multi-day streams") {
    // the candidate-day interval arithmetic is the part that could
    // silently skip a crossing — so random streams spanning many days
    // (random purchase mix: some arms decide up, some down, some never)
    // are walked directly in the test and must match the engine's
    // decision, crossing trial, and crossing llr exactly
    val incS = graft.operators.Stats.sprtIncS
    val incF = graft.operators.Stats.sprtIncF
    val bound = graft.operators.Stats.sprtBound
    val t0 = 1704067200L
    val evGen = Gen.listOfN(60, for {
      u <- Gen.choose(1L, 6L)
      sec <- Gen.choose(0L, 10L * 86400L)
      p <- Gen.frequency(1 -> "purchase", 1 -> "view")
    } yield (u, sec, p))
    check(Prop.forAll(evGen) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, tpe), i) =>
        ((i + 1).toLong, (t0 + sec) * 1000000000L, u, tpe, 1.0, "{}")
      }
      val dir = java.nio.file.Files.createTempDirectory("graftsprtp").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q309_sprt")(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getString(3), r.getLong(4), r.getLong(5))).toMap
      def arm(u: Long): Long = java.lang.Long.parseLong(
        graft.functions.Hashing.md5hex(u.toString).substring(0, 8), 16) % 2
      val byArm = rows.groupBy(r => arm(r._3))
      byArm.forall { case (a, es) =>
        val walk = es.sortBy(e => (e._2, e._1))
        var llr = 0L; var n = 0L; var nS = 0L
        var cidx = -1L; var cllr = 0L
        walk.foreach { e =>
          n += 1
          if (e._4 == "purchase") { nS += 1; llr += incS } else llr += incF
          if (cidx == -1L && (llr >= bound || llr <= -bound)) {
            cidx = n; cllr = llr
          }
        }
        val dec = if (cidx == -1L) "continue"
          else if (cllr >= bound) "accept_h1" else "accept_h0"
        got(a) == ((n, nS, dec, if (cidx == -1L) n else cidx,
          if (cidx == -1L) llr else cllr))
      }
    }, "q309 two-phase ≡ direct walk")
  }

  test("q316 sequence law: extrema-algebra supports equal brute-force subsequence existence on random tied streams") {
    // the existential reductions (tmin/tmax for pairs, earliest-b-after-
    // first-a for triples) are checked against literal O(n³) subsequence
    // search per user; whole-second timestamps collide often, exercising
    // the strict-inequality tie convention
    val t0 = 1704067200L
    val types = Vector("view", "click", "purchase")
    val evGen = Gen.listOfN(30, for {
      u <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 20L)
      tp <- Gen.oneOf(types)
    } yield (u, sec, tp))
    check(Prop.forAll(evGen) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, tpe), i) =>
        ((i + 1).toLong, (t0 + sec) * 1000000000L, u, tpe, 1.0, "{}")
      }
      val dir = java.nio.file.Files.createTempDirectory("graftseqp").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q316_seq_patterns")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("sup")).toMap
      val byUser = rows.groupBy(_._3).view
        .mapValues(_.map(e => (e._2, e._4))).toMap
      def supPair(a: String, b: String): Long = byUser.values.count { es =>
        es.exists(x => x._2 == a &&
          es.exists(y => y._2 == b && x._1 < y._1))
      }.toLong
      def supTri(a: String, b: String, c: String): Long =
        byUser.values.count { es =>
          es.exists(x => x._2 == a && es.exists(y => y._2 == b &&
            x._1 < y._1 && es.exists(z => z._2 == c && y._1 < z._1)))
        }.toLong
      val pairsOk = (for { a <- types; b <- types } yield {
        got.getOrElse(s"$a>$b", 0L) == supPair(a, b)
      }).forall(identity)
      val triplesOk = (for { a <- types; b <- types; c <- types } yield {
        got.getOrElse(s"$a>$b>$c", 0L) == supTri(a, b, c)
      }).forall(identity)
      pairsOk && triplesOk
    }, "q316 extrema algebra ≡ brute-force subsequence")
  }

  test("q321 gap law: the chained-window supports equal brute-force gap-bounded subsequence search on random multi-day streams") {
    // the two window passes (type flags, then flagged-predecessor
    // counts) are checked against literal O(n³) per-user search with
    // the pairwise 7-day bound; the 12-day span makes the gap bite
    // (events > 7 days apart must NOT chain), and whole-second repeats
    // exercise the strict-inequality tie rule
    val t0 = 1704067200L
    val types = Vector("view", "click", "purchase")
    val gapUs = 7L * 86400L * 1000000L
    val evGen = Gen.listOfN(36, for {
      u <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 12L * 86400L)
      tp <- Gen.oneOf(types)
    } yield (u, sec, tp))
    check(Prop.forAll(evGen) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, tpe), i) =>
        ((i + 1).toLong, (t0 + sec) * 1000000000L, u, tpe, 1.0, "{}")
      }
      val dir = java.nio.file.Files.createTempDirectory("graftgap").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q321_seq_patterns_gap")(spark, dir)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("sup")).toMap
      val byUser = rows.groupBy(_._3).view
        .mapValues(_.map(e => (e._2 / 1000L, e._4))).toMap
      def chains(x: Long, y: Long) = x < y && y <= x + gapUs
      def supPair(a: String, b: String): Long = byUser.values.count { es =>
        es.exists(x => x._2 == a && es.exists(y => y._2 == b &&
          chains(x._1, y._1)))
      }.toLong
      def supTri(a: String, b: String, c: String): Long =
        byUser.values.count { es =>
          es.exists(x => x._2 == a && es.exists(y => y._2 == b &&
            chains(x._1, y._1) && es.exists(z => z._2 == c &&
              chains(y._1, z._1))))
        }.toLong
      val pairsOk = (for { a <- types; b <- types } yield {
        got.getOrElse(s"$a>$b", 0L) == supPair(a, b)
      }).forall(identity)
      val triplesOk = (for { a <- types; b <- types; c <- types } yield {
        got.getOrElse(s"$a>$b>$c", 0L) == supTri(a, b, c)
      }).forall(identity)
      pairsOk && triplesOk
    }, "q321 chained windows ≡ brute-force gap-bounded subsequence")
  }

  test("q318 decay law: the 21-frame window credits equal brute-force per-conversion gap arithmetic on random tied streams") {
    // gap bucketing, the power-of-two weights, the truncated shares, and
    // the largest-raw remainder rule are all re-derived literally per
    // purchase and must match the engine's rollup exactly — including
    // purchases whose lookback is empty and touches at frame boundaries
    val t0 = 1704067200L
    val evGen = Gen.listOfN(40, for {
      u <- Gen.choose(1L, 4L)
      sec <- Gen.choose(0L, 12L * 86400L)
      tp <- Gen.frequency(2 -> "view", 2 -> "click", 1 -> "signup",
        2 -> "purchase")
    } yield (u, sec, tp))
    check(Prop.forAll(evGen) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, tpe), i) =>
        ((i + 1).toLong, (t0 + sec) * 1000000000L, u, tpe, 1.0, "{}")
      }
      val dir = java.nio.file.Files.createTempDirectory("graftdkp").toString
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q318_time_decay")(spark, dir).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n_convs"),
          r.getAs[Long]("decay_ppm"))).toMap
      val dayUs = 86400L * 1000000L
      val byUser = rows.groupBy(_._3)
      val acc = scala.collection.mutable.Map.empty[String, (Long, Long)]
        .withDefaultValue((0L, 0L))
      byUser.values.foreach { es =>
        val evsUs = es.map(e => (e._2 / 1000L, e._4))
        evsUs.filter(_._2 == "purchase").foreach { case (pt, _) =>
          def raw(ch: String): Long = evsUs.collect {
            case (tt, t) if t == ch && tt < pt && tt >= pt - 7 * dayUs =>
              1000000L >> ((pt - tt - 1) / dayUs).toInt
          }.sum
          val (v, c, sg) = (raw("view"), raw("click"), raw("signup"))
          val t = v + c + sg
          if (t == 0L) {
            val (n, p) = acc("(none)"); acc("(none)") = (n + 1, p + 1000000L)
          } else {
            val (vp, cp, sp) =
              (v * 1000000L / t, c * 1000000L / t, sg * 1000000L / t)
            val rem = 1000000L - vp - cp - sp
            val winner = if (c >= sg && c >= v) "click"
              else if (sg >= v) "signup" else "view"
            Seq(("view", v, vp), ("click", c, cp), ("signup", sg, sp))
              .foreach { case (ch, rw, ppm) =>
                if (rw > 0) {
                  val (n, p) = acc(ch)
                  acc(ch) = (n + 1,
                    p + ppm + (if (ch == winner) rem else 0L))
                }
              }
          }
        }
      }
      got == acc.toMap
    }, "q318 window pass ≡ brute-force gap arithmetic")
  }
}
