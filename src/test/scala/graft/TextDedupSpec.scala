package graft

import org.apache.spark.sql.functions._

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val planted = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "t", 43L),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "t", 43L), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "en", "t", 43L), // near dup of 1
    (4L, "el perro de la casa que ladra mucho hoy aqui", "es", "t", 44L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def onPlanted(name: String) = {
    planted.createOrReplaceTempView("ignored") // not used; queries read parquet
    planted
  }

  test("identical texts share md5, rolling hash, and simhash; near-dups have close simhash") {
    val dir = java.nio.file.Files.createTempDirectory("graftdocs").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fp = SparkEntry.queries("q28_fingerprint")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(fp(1L) === fp(2L))
    val sh = SparkEntry.queries("q38_simhash16")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(1L) === sh(2L))
    val hamming13 = Integer.bitCount(sh(1L) ^ sh(3L))
    val hamming14 = Integer.bitCount(sh(1L) ^ sh(4L))
    assert(hamming13 < hamming14, s"near-dup hamming $hamming13 !< unrelated $hamming14")

    val jac = SparkEntry.queries("q30_jaccard_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) === 1.0) // exact dup pair
    assert(jac((1L, 3L)) > 0.7 && jac((1L, 3L)) < 1.0) // near dup pair
    assert(!jac.contains((1L, 4L))) // different lang block — never a candidate

    val dedup = SparkEntry.queries("q25_dedup_exact")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(dedup("en") === ((2L, 3L))) // 3 docs, 2 unique texts

    val mh = SparkEntry.queries("q37_minhash_neardup")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(mh(1L)._1 >= 1L && mh(1L)._2 === 1L) // 1 has dup 2; canon = itself
    assert(mh(2L) === ((1L, 1L))) // exact dup of 1 → canon 1
    assert(mh(4L) === ((0L, 4L))) // the Spanish doc has no near-dups
  }

  test("language-ID heuristic votes en/es on the planted docs") {
    val dir = java.nio.file.Files.createTempDirectory("graftlang").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val guesses = SparkEntry.queries("q29_lang_id")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(guesses(1L) === "en")
    assert(guesses(4L) === "es")
  }

  test("q59 clusters are transitive where q37 neighborhoods are not") {
    // chain: 10~11 and 11~12 pass the 0.9-Jaccard bar, 10~12 does not
    // (20/24 = 0.83) — one cluster must still cover all three.
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val chain = Seq(
      (10L, base, "en", "t", 100L),
      (11L, base + " extraA extraB", "en", "t", 114L), // j(10,11) = 20/22
      (12L, base + " extraA extraB extraC extraD", "en", "t", 128L), // j(11,12) = 22/24
      (13L, "completely different tokens here nothing shared at all today", "en", "t", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftcc").toString
    chain.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val nb = SparkEntry.queries("q37_minhash_neardup")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nb(11L) === 2L, "middle doc links both ways")
    assert(nb(10L) === 1L && nb(12L) === 1L, "ends link only to the middle")

    val cc = SparkEntry.queries("q59_dup_clusters")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(cc(10L) === ((10L, 3L, true)), "cluster canon is the min id")
    assert(cc(11L) === ((10L, 3L, false)))
    assert(cc(12L) === ((10L, 3L, false)), "transitive closure reaches 12")
    assert(cc(13L) === ((13L, 1L, true)), "singleton keeps itself")
  }

  test("q61 tf-idf ranks are 1..3 per doc with non-increasing scores") {
    val rows = q("q61_tfidf_top").collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === (1 to sorted.length))
      val scores = sorted.map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $doc scores not non-increasing: ${scores.mkString(",")}")
    }
    // a term present in every document has idf 0 → never outranks rarer terms
    assert(rows.forall(_.getDouble(5) >= 0.0))
  }

  test("q65 simhash near-dup: identical docs collide at hamming 0, unrelated ones don't pair") {
    val base = (1 to 30).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (20L, base, "en", "t", 200L),
      (21L, base, "en", "t", 200L), // exact dup of 20 → hamming 0
      (22L, base + " tail", "en", "t", 205L), // near dup → low hamming
      (23L, "entirely other vocabulary nothing shared whatsoever still longer text", "en", "t", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftsh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("q65_simhash_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((20L, 21L)) === 0, "identical text ⇒ identical simhash")
    assert(pairs.keys.forall { case (a, b) => a < b })
    assert(pairs.values.forall(_ <= 2))
    assert(!pairs.contains((20L, 23L)) && !pairs.contains((21L, 23L)))
  }

  test("q73 quality filter flags each planted defect with the right reason") {
    val longText = ("the quick brown fox jumps over the lazy dog and keeps " * 8).trim
    val docs = Seq(
      (30L, longText, "en", "t", longText.length.toLong), // ok
      (31L, "tiny", "en", "t", 4L), // too_short
      (32L, "x " * 3000, "en", "t", 6000L), // too_long
      (33L, "one two three four five six seven eight nine eleven", "en", "t", 52L), // >=50 chars, 10 tokens, no stopwords
      (34L, "!@# $%^ &*( )!@ #$% ^&* ()! @#$ %^& *()" + " the and of a la de" * 2, "en", "t", 70L)) // punct-heavy
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftqf").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q73_quality_filter")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(out(30L) === (("ok", true)))
    assert(out(31L) === (("too_short", false)))
    assert(out(32L) === (("too_long", false)))
    assert(out(33L) === (("no_stopwords", false)))
    assert(out(34L) === (("too_much_punct", false)))
  }

  test("q338 Gopher rules flag each planted defect with the right first-failing reason, in cascade order") {
    // every doc below passes all rules EARLIER in the cascade than the
    // one it plants, so each reason is the first failure by construction
    val okWords = (1 to 58).map(i => s"word$i").mkString(" ") + " the of"
    val shortDoc = "just a few words here"                       // 5 words
    val thinDoc = ("a " * 60).trim                               // mean len 1
    val symDoc = (1 to 60).map(i => s"word$i").mkString(" ") +
      " " + (1 to 10).map(_ => "#").mkString(" ")                // 10 # / 70 w
    // the paper's rule fires only past 90% bullet-led lines, so the
    // planted defect is ALL lines bulleted (10/10 > 9/10)
    val bulletDoc = (1 to 10).map { l =>
      val line = (1 to 6).map(i => s"w${l}x$i").mkString(" ")
      s"- $line"
    }.mkString("\n")                                             // 10/10 bullets
    val ellDoc = (1 to 10).map { l =>
      val line = (1 to 6).map(i => s"w${l}x$i").mkString(" ")
      if (l <= 4) s"$line..." else line
    }.mkString("\n")                                             // 4/10 ellipsis
    val numDoc = ((1 to 40).map(i => s"word$i") ++
      (1 to 20).map(i => s"${i}000")).mkString(" ")              // 20/60 numeric
    val noStop = (1 to 60).map(i => s"zz$i").mkString(" ")       // 0 stops
    // a half-bulleted list document the real Gopher filter KEEPS
    // (5/10 ≤ 90%) — the case the over-tight 10% reading would drop
    val listDoc = (1 to 10).map { l =>
      val line = (1 to 6).map(i => s"w${l}x$i").mkString(" ") +
        (if (l == 10) " the of" else "")
      if (l <= 5) s"- $line" else line
    }.mkString("\n")                                             // 5/10 bullets
    val docs = Seq(
      (1L, shortDoc), (2L, thinDoc), (3L, symDoc), (4L, bulletDoc),
      (5L, ellDoc), (6L, numDoc), (7L, noStop), (8L, okWords),
      (9L, listDoc))
      .map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftgo").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q338_gopher_rules")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L) === (("word_count", false)))
    assert(out(2L) === (("mean_word_length", false)))
    assert(out(3L) === (("symbol_ratio", false)))
    assert(out(4L) === (("bullet_lines", false)))
    assert(out(5L) === (("ellipsis_lines", false)))
    assert(out(6L) === (("alpha_ratio", false)))
    assert(out(7L) === (("stopwords", false)))
    assert(out(8L) === (("ok", true)))
    assert(out(9L) === (("ok", true)), "half-bulleted lists are kept")
  }

  test("q358 conformal sets: an exchangeable fixture reads coverage exactly 1e6 at qhat 0, an alien test fold reports the exact miss fraction, and an under-sized calibration fold yields the infinite threshold and full-taxonomy sets") {
    import spark.implicits._
    val bucketOf = (1L to 500L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (1L to 500L).filter(bucketOf(_) < 80).take(8)
    val calIds = (1L to 500L)
      .filter(id => bucketOf(id) >= 80 && bucketOf(id) < 90)
    val testIds = (1L to 500L).filter(bucketOf(_) >= 90).take(6)
    assert(trainIds.size == 8 && calIds.size >= 10 && testIds.size == 6)
    val aT = "a1 a2 a3 a4 a5"; val bT = "b1 b2 b3 b4 b5"
    def base(nCal: Int) =
      trainIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
        trainIds.drop(4).map(id => (id, bT, "bb", "t", 10L)) ++
        calIds.take(nCal).zipWithIndex.map { case (id, i) =>
          if (i % 2 == 0) (id, aT, "aa", "t", 10L)
          else (id, bT, "bb", "t", 10L)
        }
    def run(docs: Seq[(Long, String, String, String, Long)], tag: String) = {
      val dir = java.nio.file.Files.createTempDirectory(tag).toString
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      SparkEntry.queries("q358_nb_conformal")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))).toList
    }
    // LAW 1 — exchangeable: disjoint-vocab docs everywhere → every
    // calibration nonconformity is 0, qhat = the 10th smallest of ten
    // zeros = 0, every test set is the bare argmax, coverage exactly 1
    val ex = run(base(10) ++
      testIds.take(3).map(id => (id, aT, "aa", "t", 10L)) ++
      testIds.drop(3).map(id => (id, bT, "bb", "t", 10L)), "graftcf1")
    assert(ex === List((1L, 6L, 10L, 0L, 6L, 6L, 1000000L)), ex.toString)
    // LAW 2 — test drift: two test docs carry the WRONG vocabulary for
    // their label; at qhat 0 their sets exclude the true class and the
    // coverage column reports the exact 4/6 miss fraction — the alarm
    val alien = run(base(10) ++
      testIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
      testIds.drop(4).map(id => (id, bT, "aa", "t", 10L)), "graftcf2")
    assert(alien === List((1L, 6L, 10L, 0L, 6L, 4L, 666666L)),
      alien.toString)
    // LAW 3 — under-sized fold: 3 calibration docs cannot support the
    // 90% quantile (k = ceil(0.9·4) = 4 > 3) → the conformal-defined
    // INFINITE threshold, full-taxonomy sets, loud not silent
    val inf = run(base(3) ++
      testIds.take(2).map(id => (id, aT, "aa", "t", 10L)), "graftcf3")
    assert(inf === List((2L, 2L, 3L, Long.MaxValue, 2L, 2L, 1000000L)),
      inf.toString)
  }

  test("q360 Mondrian sets: a planted skewed corpus holds the marginal 90% under q358's qhat while the rare class's conditional coverage is 0, and recovers to 100% under the per-class qhat; an uncalibratable class gets the infinite threshold and joins every set") {
    import spark.implicits._
    val bucketOf = (1L to 2000L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (1L to 2000L).filter(bucketOf(_) < 80).take(8)
    val calIds = (1L to 2000L)
      .filter(id => bucketOf(id) >= 80 && bucketOf(id) < 90)
    val testIds = (1L to 2000L).filter(bucketOf(_) >= 90).take(10)
    assert(trainIds.size == 8 && calIds.size >= 100 && testIds.size == 10)
    val aT = "a1 a2 a3 a4 a5"; val bT = "b1 b2 b3 b4 b5"
    // the rare class's docs MIX vocabularies (3 aa tokens vs 2 bb):
    // the NB argmax lands on aa, so their nonconformity is a positive
    // deterministic margin v — the structural miss q358's marginal
    // threshold never sees
    val bM = "a1 a2 a3 b1 b2"
    // skew: 91 common-class (nc = 0) vs 9 rare-class (nc = v)
    // calibration docs → marginal k = ceil(0.9·101) = 91 lands on the
    // last zero, but the rare class's own k = ceil(0.9·10) = 9 lands
    // on v
    val docs = (trainIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
      trainIds.drop(4).map(id => (id, bT, "bb", "t", 10L)) ++
      calIds.take(91).map(id => (id, aT, "aa", "t", 10L)) ++
      calIds.slice(91, 100).map(id => (id, bM, "bb", "t", 10L)) ++
      testIds.take(9).map(id => (id, aT, "aa", "t", 10L)) ++
      testIds.drop(9).map(id => (id, bM, "bb", "t", 10L)))
    val dir = java.nio.file.Files.createTempDirectory("graftmnd").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // q358 on the same corpus: marginal qhat = 0, coverage EXACTLY
    // 900000 ppm — the guarantee "holds" while every rare-class doc
    // is missed
    val marg = SparkEntry.queries("q358_nb_conformal")(spark, dir)
      .collect()
    assert(marg.forall(_.getLong(3) === 0L), marg.mkString(";")) // qhat
    assert(marg.head.getLong(6) === 900000L, marg.mkString(";"))
    val got = SparkEntry.queries("q360_nb_mondrian")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    assert(got.keySet === Set("aa", "bb"), got.toString)
    // common class: its own quantile is still 0 (91 zeros, k = 83),
    // every test doc covered by the bare argmax set
    val (aCal, aQ, aTst, aCov, aSum, aCovPpm, aAvg) = got("aa")
    assert((aCal, aQ, aTst, aCov) === ((91L, 0L, 9L, 9L)), got.toString)
    assert((aSum, aCovPpm, aAvg) === ((9L, 1000000L, 1000000L)))
    // rare class: per-class qhat = the planted margin v > 0, its test
    // doc's set now contains BOTH classes and conditional coverage
    // recovers from 0 (under q358's qhat) to 100%
    val (bCal, bQ, bTst, bCov, bSum, bCovPpm, bAvg) = got("bb")
    assert(bCal === 9L && bQ > 0L && bQ < Long.MaxValue, got.toString)
    assert((bTst, bCov, bSum, bCovPpm, bAvg)
      === ((1L, 1L, 2L, 1000000L, 2000000L)), got.toString)

    // law 2 — an uncalibratable class (1 calibration doc, k = 2 > 1):
    // infinite threshold, it joins EVERY set (the conservative move
    // that preserves its conditional guarantee), and an un-trained
    // true class reads coverage 0 loudly
    val docs2 = (trainIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
      trainIds.drop(4).map(id => (id, bT, "bb", "t", 10L)) ++
      calIds.take(10).map(id => (id, aT, "aa", "t", 10L)) ++
      calIds.slice(10, 11).map(id => (id, bT, "bb", "t", 10L)) ++
      testIds.take(1).map(id => (id, aT, "aa", "t", 10L)) ++
      testIds.slice(1, 2).map(id => (id, aT, "cc", "t", 10L)))
    val dir2 = java.nio.file.Files.createTempDirectory("graftmnd2")
      .toString
    docs2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got2 = SparkEntry.queries("q360_nb_mondrian")(spark, dir2)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    assert(got2.keySet === Set("aa", "bb", "cc"), got2.toString)
    // bb joins both test docs' sets through the infinite threshold
    assert(got2("bb") === ((1L, Long.MaxValue, 0L, 0L, 0L, -1L, -1L)),
      got2.toString)
    assert(got2("aa") === ((10L, 0L, 1L, 1L, 2L, 1000000L, 2000000L)),
      got2.toString)
    // the alien class can never be a candidate: coverage 0, loud
    assert(got2("cc") === ((0L, Long.MaxValue, 1L, 0L, 2L, 0L,
      2000000L)), got2.toString)
  }

  test("q357 Gopher repetition rules: each planted repetition mechanic fires its own rule in Table-A1 cascade order; a diverse doc keeps") {
    import spark.implicits._
    // 1 — duplicate LINE fraction: 4 identical of 10 lines = 40% > 30%
    val dupLine = (Seq.fill(4)("dd ee") ++
      (1 to 6).map(i => s"u$i v$i")).mkString("\n")
    // 2 — duplicate PARAGRAPH fraction, with the line rule PASSING:
    // the repeated para is one short line, the unique paras are 5
    // lines each → dup lines = 2 P-lines + 4 blank separators = 6 of
    // 21 (28.6% ≤ 30%), dup paras = 2 of 5 (40% > 30%)
    val para = (1 to 3).map(p =>
      (1 to 5).map(l => s"p${p}l$l q${p}l$l").mkString("\n"))
    val dupPara = (Seq("xx yy", "xx yy") ++ para).mkString("\n\n")
    // 3 — duplicate line CHAR fraction with the count rule passing:
    // 2 identical ~100-char lines of 10 (20% count, ~69% chars)
    val longLine = (1 to 20).map(i => f"w$i%03d").mkString(" ")
    val dupLineChar = (Seq(longLine, longLine) ++
      (1 to 8).map(i => s"s$i t$i")).mkString("\n")
    // 4 — TOP-2-gram char fraction: 'x y' ×10 among unique fillers =
    // 30 of 69 chars (43% > 20%); every longer gram is single-occurrence
    val top2 = (1 to 10).map(i => s"x y f$i").mkString(" ")
    // 5 — DUP-5-gram char fraction with the top-gram rules passing:
    // a 5×2-char phrase repeated twice in a 50-token doc (C = 149):
    // dup5 = 2·14 = 28 chars (18.8% > 15%) while top4 = 22 ≤ 16%·149,
    // top3 = 16 ≤ 18%·149, top2 = 10 ≤ 20%·149
    val phrase = "pp qq rr ss tt"
    // 2-char unique fillers keep C = 50·2 + 49 = 149 exactly
    def fill(i: Int) = s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    val dup5 = (Seq(phrase) ++ (0 until 20).map(fill) ++
      Seq(phrase) ++ (20 until 40).map(fill)).mkString(" ")
    // 6 — diverse doc: 30 unique tokens, every rule passes
    val okDoc = (1 to 30).map(i => f"z$i%02d").mkString(" ")
    val docs = Seq((1L, dupLine), (2L, dupPara), (3L, dupLineChar),
      (4L, top2), (5L, dup5), (6L, okDoc))
      .map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftrep").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q357_gopher_repetition")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("reason") === "dup_line_frac")
    assert(out(1L).getAs[Long]("dup_line_ppm") === 400000L)
    assert(out(2L).getAs[String]("reason") === "dup_para_frac")
    assert(out(2L).getAs[Long]("dup_para_ppm") === 400000L)
    assert(out(2L).getAs[Long]("dup_line_ppm") === 285714L,
      "line rule passed at 6/21 before the para rule fired")
    assert(out(3L).getAs[String]("reason") === "dup_line_char_frac")
    assert(out(4L).getAs[String]("reason") === "top_2_gram")
    assert(out(5L).getAs[String]("reason") === "dup_5_gram")
    assert(out(5L).getAs[Long]("dup5_ppm") === 187919L, // 28/149
      out(5L).toString)
    assert(out(6L).getAs[String]("reason") === "ok")
    assert(out(6L).getAs[Boolean]("keep"))
    assert((1L to 5L).forall(!out(_).getAs[Boolean]("keep")))
  }

  test("q74 decontamination flags only docs sharing an 8-token shingle with the benchmark") {
    val run = (1 to 12).map(i => s"bench$i").mkString(" ") // 12 tokens
    val docs = Seq(
      (5L, run, "en", "t", 100L), // benchmark doc (id < 10)
      (15L, s"prefix words here $run suffix", "en", "t", 120L), // contains the run
      (16L, (1 to 20).map(i => s"clean$i").mkString(" "), "en", "t", 130L), // clean
      (17L, "too few tokens to shingle", "en", "t", 25L)) // < 8 tokens
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftdc").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q74_decontaminate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(15L)._2 === true)
    assert(out(15L)._1 >= 1L)
    assert(out(16L) === ((0L, false)))
    assert(out(17L) === ((0L, false)), "sub-8-token doc yields no shingles")
    assert(!out.contains(5L), "benchmark docs are not audited")
  }

  test("q99 bloom pre-filter: no false negatives, exact verdict agrees with q74") {
    val bloom = q("q99_bloom_filter").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_maybe"), r.getAs[Long]("n_exact"))).toMap
    // Bloom guarantee: every exact hit is also a maybe hit (no false
    // negatives); false positives are allowed but counted
    bloom.values.foreach { case (maybe, exact) => assert(maybe >= exact) }
    // the exact side of the audit is q74's verdict computed on the same
    // shingles — the two operators must agree document by document
    val exactQ74 = q("q74_decontaminate").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hits")).toMap
    assert(bloom.keySet === exactQ74.keySet)
    bloom.foreach { case (id, (_, exact)) => assert(exact === exactQ74(id), id) }
  }

  test("q75 hash split is deterministic and partitions every document") {
    val a = q("q75_hash_split").collect().map(_.toSeq)
    val b = q("q75_hash_split").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq, "identical across runs — no RNG")
    val total = a.map(_(2).asInstanceOf[Long]).sum
    assert(total === graft.sources.Tables.documents(spark, sf).count())
    val bySplit = a.groupBy(_(1)).view.mapValues(_.map(_(2).asInstanceOf[Long]).sum)
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
  }

  test("native simhash16 expression is bit-identical to the 16-aggregate spec") {
    val native = q("q38_simhash16").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val spec = graft.operators.Text.simhashesSpec(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(native === spec)
    assert(native.nonEmpty)
  }

  test("q94 unigram cross-entropy: non-negative, bounded by ln(corpus tokens), repetition scores low") {
    val rows = q("q94_unigram_logprob").collect()
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val maxNat = math.log(totalTokens.toDouble) + 1e-6 // cnt = 1 worst case
    rows.foreach { r =>
      val ce = r.getAs[Double]("cross_entropy")
      assert(ce >= 0.0 && ce <= maxNat, s"doc ${r.getAs[Long]("doc_id")}: $ce")
    }
    // a document of one token repeated is maximally predictable given its
    // own mass — its score must sit below the corpus mean
    val mean = rows.map(_.getAs[Double]("cross_entropy")).sum / rows.length
    assert(rows.map(_.getAs[Double]("cross_entropy")).min < mean)
  }

  test("q113 segment dedup: first occurrence survives, later copies drop, kept sum = distinct segments") {
    val dir = java.nio.file.Files.createTempDirectory("graftseg").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q113_segment_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 2 is byte-identical to doc 1: its only segment is a corpus-wide
    // repeat, so nothing survives and the rebuilt text is empty
    assert(rows(1L)._2 === rows(1L)._1, "first occurrence must keep all segments")
    assert(rows(2L)._2 === 0L, "exact-dup doc must keep nothing")
    assert(rows(2L)._3 === "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    // each planted doc is ≤ 10 tokens = exactly one segment; docs 1 and 2
    // share theirs, so the corpus-wide kept total is the 3 distinct texts
    val keptTotal = rows.values.map(_._2).sum
    assert(keptTotal === 3L, s"4 docs, one exact dup: 3 distinct segments, got $keptTotal")
  }

  test("q123 split never separates a verified near-dup pair (no eval leakage)") {
    // end-to-end: rebuild each doc's split from the cluster assignment the
    // query exposes only in aggregate, then check every verified pair
    val clusters = q("q59_dup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def split(label: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(label.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 100).toInt
    }
    val pairs = graft.operators.Dedup.verifiedPairs(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(clusters(a) === clusters(b), s"pair ($a,$b) split across clusters")
      assert(split(clusters(a)) === split(clusters(b)))
    }
    // and the audit totals cover the whole corpus exactly once
    val audit = q("q123_leakage_split").collect()
    assert(audit.map(_.getLong(1)).sum === clusters.size.toLong)
  }

  test("q114 delta near-dup agrees with the full pair list restricted to delta-corpus edges") {
    val pairs = graft.operators.Dedup.verifiedPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.flatMap { case (a, b) =>
      val (aD, bD) = (a % 10 == 7, b % 10 == 7)
      if (aD && !bD) Some(a -> b) else if (bD && !aD) Some(b -> a) else None
    }.groupBy(_._1).map { case (did, es) =>
      did -> (es.length.toLong, es.map(_._2).min)
    }
    val got = q("q114_delta_neardup").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    expect.foreach { case (did, (n, minCid)) =>
      assert(got(did)._1 === n, s"doc $did n_dup")
      assert(got(did)._2 === minCid, s"doc $did dup_of")
    }
    got.filter(_._2._1 == 0L).foreach { case (did, (_, dupOf)) =>
      assert(dupOf === -1L, s"new doc $did must carry the -1 sentinel")
      assert(!expect.contains(did))
    }
  }

  test("q244 streamed verdicts equal q114 batch verdicts, row for row") {
    // one verdict body probes the staged corpus index; a verdict depends
    // only on (document, index), so the micro-batch cut cannot move it
    val batch = q("q114_delta_neardup").collect().toSeq
    val stream = q("q244_stream_delta_dedup").collect().toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_.getLong(1) > 0), "the fixture must hold a delta near-dup")
    assert(stream === batch)
  }

  test("q120 prefix-filter join is LOSSLESS: degrees equal the brute-force all-pairs verify") {
    // brute force the exact Jaccard >= 0.5 pair set over the full fixture
    // corpus driver-side (500 docs) and compare per-doc degrees — the
    // completeness proof LSH (q37) can't make is exactly what the prefix
    // filter guarantees
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr(
        """array_sort(array_distinct(transform(
          |  case when size(filter(split(text, '\\s+'), x -> length(x) > 0)) >= 8
          |    then transform(
          |      sequence(1, size(filter(split(text, '\\s+'), x -> length(x) > 0)) - 7),
          |      i -> concat_ws(' ',
          |        slice(filter(split(text, '\\s+'), x -> length(x) > 0), i, 8)))
          |    else cast(array() as array<string>) end,
          |  g -> cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint))))""".stripMargin).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val ids = sets.keys.toArray.sorted
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val (sa, sb) = (sets(a), sets(b))
      if (sa.nonEmpty && sb.nonEmpty) {
        val isect = (sa & sb).size
        if (3L * isect >= sa.size + sb.size) {
          val (na, ma) = brute.getOrElse(a, (0L, Long.MaxValue))
          brute(a) = (na + 1, math.min(ma, b))
          val (nb, mb) = brute.getOrElse(b, (0L, Long.MaxValue))
          brute(b) = (nb + 1, math.min(mb, a))
        }
      }
    }
    val got = q("q120_prefix_join").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    ids.foreach { id =>
      val (wantN, wantM) = brute.getOrElse(id, (0L, -1L))
      assert(got(id)._1 === wantN, s"doc $id degree")
      assert(got(id)._2 === (if (wantN == 0) -1L else wantM), s"doc $id nearest")
    }
    assert(brute.nonEmpty, "fixture must contain at least one similar pair")
  }

  test("text stats: token counts and stop ratio on a known string") {
    val dir = java.nio.file.Files.createTempDirectory("graftstats").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q26_text_stats")(spark, dir)
      .filter(col("doc_id") === 1L).head()
    assert(r.getAs[Int]("n_tokens") === 9)
    assert(r.getAs[Double]("stop_ratio") === 2.0 / 9) // two 'the'
  }

  test("q149 BM25: more occurrences of a query term rank a doc higher; saturation keeps tf gains sub-linear") {
    import spark.implicits._
    // top-4 by df is exactly {hot, c1, c2, c3} (df=4 each; the df-DESC,
    // term-ASC tie-break would otherwise promote unique fillers); c1-c3
    // appear once in every equal-length doc, so their contribution is a
    // constant and score differences are driven by tf('hot') alone.
    val docs = Seq(
      (1L, "hot c1 c2 c3 f1 f2 f3 f4 f5 f6"),
      (2L, "hot hot c1 c2 c3 g1 g2 g3 g4 g5"),
      (3L, "hot hot hot c1 c2 c3 h1 h2 h3 h4"),
      (4L, "hot c1 c2 c3 k1 k2 k3 k4 k5 k6"))
      .map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftbm25").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q149_bm25")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every doc contains 'hot', so every doc is scored, scores positive
    assert(rows.keySet === Set(1L, 2L, 3L, 4L))
    assert(rows.values.forall { case (hit, ppm) => hit >= 1L && ppm > 0L })
    // equal-length docs: score strictly increases with tf ...
    assert(rows(3L)._2 > rows(2L)._2 && rows(2L)._2 > rows(1L)._2)
    // ... but saturates: the tf 1->2 gain exceeds the tf 2->3 gain
    assert(rows(2L)._2 - rows(1L)._2 > rows(3L)._2 - rows(2L)._2)
  }

  test("q158 RRF fusion: scores recompute from ranks, ordering is by fused score") {
    val rows = q("q158_rrf_fusion").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (id, ra, rb, rrf) =>
      assert(ra >= 0 && ra <= 50 && rb >= 0 && rb <= 50)
      assert(ra > 0 || rb > 0, s"doc $id in neither top-50 list")
      val want = (if (ra > 0) 1000000L / (60 + ra) else 0L) +
        (if (rb > 0) 1000000L / (60 + rb) else 0L)
      assert(rrf === want, s"doc $id rrf=$rrf want=$want")
    }
    // output is sorted by fused score with doc_id tiebreak
    assert(rows.sliding(2).forall { case Array((i1, _, _, s1), (i2, _, _, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2) })
  }

  test("q170 trigram LM: planted corpus reproduces the add-1 smoothed score exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // discover which ids the q75 hash split sends to train (<80) / test
    // (>=90), then plant 3 identical train docs and 1 test doc "a b c":
    // c3 = 3, c2 = 3, V = 3 → mu = round(ln((3+3)/(3+1))·1e6) = 405465
    val ids = (0L until 200L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .as[(Long, Long)].collect()
    val trainIds = ids.filter(_._2 < 80).map(_._1).take(3)
    val testId = ids.filter(_._2 >= 90).map(_._1).head
    val docs = (trainIds.map(i => (i, "a b c", "en", "s0", 5L)).toSeq :+
      ((testId, "a b c", "en", "s0", 5L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftlm").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q170_trigram_lm")(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getAs[String]("source") === "s0")
    assert(r(0).getAs[Long]("n_docs") === 1L)
    assert(r(0).getAs[Long]("n_trigrams") === 1L)
    assert(r(0).getAs[Long]("xent_micro") === 405465L)
  }

  test("q311 Kneser-Ney: the san-francisco continuation law holds exactly; fixture scores are nonnegative on q170's identical trigram set") {
    // fixture: the KN leaderboard scores the SAME test trigrams as
    // q170's add-1 leaderboard (shared plumbing — structural pin), and
    // Σp ≤ 1 at every level makes every µnat score nonnegative
    val kn = q("q311_kneser_ney").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_trigrams"),
        r.getAs[Long]("kn_xent_micro"))).toMap
    val add1 = q("q170_trigram_lm").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_trigrams")).toMap
    assert(kn.view.mapValues(_._1).toMap === add1)
    kn.values.foreach { case (_, x) => assert(x >= 0L) }
    // planted law (Kneser & Ney 1995's own motivating example): in
    // train, "francisco" occurs ONLY after "san" (one continuation
    // context) while "common" follows five distinct words; after an
    // UNSEEN context both back off to the continuation unigram, so
    // p(francisco) = 5/57 and p(common) = 21/57 (quarter units,
    // d1q = 4T+V+1 = 4·12+8+1) — frequency alone could never separate
    // them. Scores: round(ln(57/5)·1e6) and round(ln(57/21)·1e6).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ids = (0L until 300L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .as[(Long, Long)].collect()
    val trainIds = ids.filter(_._2 < 80).map(_._1).take(2)
    val testIds = ids.filter(_._2 >= 90).map(_._1).take(2)
    val docs = Seq(
      (trainIds(0), "z san francisco z san francisco z san francisco",
        "en", "s_train", 47L),
      (trainIds(1), "z u1 common u2 common u3 common u4 common u5 common",
        "en", "s_train", 51L),
      (testIds(0), "qq ww francisco", "en", "s_fr", 15L),
      (testIds(1), "qq ww common", "en", "s_com", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftkn").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q311_kneser_ney")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_trigrams"),
        r.getAs[Long]("kn_xent_micro"))).toMap
    assert(got("s_fr") === ((1L, 2433613L)), got.toString)
    assert(got("s_com") === ((1L, 998529L)), got.toString)
  }

  test("q171 BPE pairs: doubled pairs count twice per occurrence, weights multiply by word frequency") {
    import spark.implicits._
    // corpus: "ab ab aaa" ×2 docs → wf: ab=4, aaa=2.
    // pairs: ab → 4 occurrences / 1 type; aa (from aaa, twice per word)
    // → 2·2 = 4 occurrences / 1 type.
    val docs = Seq((1L, "ab ab aaa", "en", "s0", 9L),
      (2L, "ab ab aaa", "en", "s0", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftbpe").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q171_bpe_pairs")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toList === List(("aa", 4L, 1L), ("ab", 4L, 1L)))
  }

  test("q270 char entropy: bounds hold on fixtures; a planted repeated-run doc scores zero and is flagged") {
    val rows = q("q270_char_entropy").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, min) = (r.getAs[Long]("mean_entropy_micro"),
        r.getAs[Long]("min_entropy_micro"))
      assert(min >= 0L && min <= mean)
      // ln(printable alphabet) is a hard ceiling for char-unigram entropy
      assert(mean <= 4900000L, s"mean $mean exceeds ln(128) nats")
      assert(r.getAs[Long]("n_low_entropy") <= r.getAs[Long]("n_docs"))
    }
    // the signal q73/q87/q185 can miss: one repeated character has healthy
    // length but exactly zero entropy — it must be flagged
    import spark.implicits._
    val docs = Seq(
      (1L, "a" * 500, "en", "t", 500L),
      (2L, "the quick brown fox jumps over the lazy dog again", "en", "t", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftent").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q270_char_entropy")(spark, dir).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("min_entropy_micro") === 0L)
    assert(got(0).getAs[Long]("n_low_entropy") === 1L)
  }

  test("q269 fertility: every word costs >= 1 token, tokens never exceed chars, the best language pays premium exactly 1e6") {
    val rows = q("q269_tokenizer_fertility").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (words, toks, chars) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars"))
      assert(toks >= words, "a word encodes to at least one token")
      assert(toks <= chars, "a token spans at least one character")
      assert(r.getAs[Long]("fertility_milli") >= 1000L)
      assert(r.getAs[Long]("premium_ppm") >= 1000000L,
        "premium is relative to the corpus-best language")
    }
    assert(rows.exists(_.getAs[Long]("premium_ppm") === 1000000L),
      "the best language's premium is exactly 1e6 by construction")
  }

  test("q247 trainer closes the loop: learned table feeds q236's encode; greedy counts non-increasing") {
    val learned = operators.Text.bpeTrainedMerges(spark, sf)
    assert(learned.size === operators.Text.bpeTrainRounds)
    assert(learned.distinct.size === learned.size, "duplicate merge learned")
    // the greedy invariant: a merge only removes occurrences of old
    // pairs, and any pair it creates inherits at most the merged pair's
    // count — so the argmax sequence cannot increase
    val counts = q("q247_bpe_train").orderBy("round").collect()
      .map(_.getAs[Long]("n_occurrences"))
    counts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"greedy counts increased: ${counts.mkString(",")}")
    }
    // train → encode: q236's machinery (unchanged) consumes the learned
    // table; every fired merge strictly shrinks the token stream, so the
    // learned encode must compress below the unmerged baseline
    // (n_tokens = n_chars when no merge table is applied)
    val enc = operators.Text.bpeEncodeWith(spark, sf, learned).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      val (chars, toks) = (r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"))
      assert(toks < chars, s"learned merges must compress: $toks vs $chars")
      // → coverage: chars-per-token stays a sane tokenizer ratio (>1×,
      // <4× — ten merges of 2-char pairs cannot beat 4 chars/token)
      val cpt = r.getAs[Long]("chars_per_token_ppm")
      assert(cpt > 1000000L && cpt < 4000000L, s"chars/token ppm $cpt")
    }
  }

  test("q279 unigram trainer closes the loop: coverage total, pruning only lengthens encodings, usage reconciles") {
    val (stats, usage1, usage2) =
      operators.Text.unigramTrainRun(spark, sf)
    val rows = stats.collect()
    assert(rows.length === 2)
    val Array(r1, r2) = rows
    // train → segment: both rounds segmented the WHOLE dictionary (the
    // in-operator require guarantees it loudly; this pins it end-to-end)
    assert(r1.getAs[Long]("n_word_types") === r2.getAs[Long]("n_word_types"))
    assert(r1.getAs[Long]("n_words") === r2.getAs[Long]("n_words"))
    // the M-step genuinely pruned
    assert(r2.getAs[Long]("vocab_size") < r1.getAs[Long]("vocab_size"),
      s"prune did nothing: ${r1.getAs[Long]("vocab_size")} -> ${r2.getAs[Long]("vocab_size")}")
    // pruning monotonicity: a smaller vocabulary can never segment a word
    // into FEWER pieces (every round-2 path existed in round 1's DP)
    assert(r2.getAs[Long]("total_pieces") >= r1.getAs[Long]("total_pieces"))
    assert(r2.getAs[Long]("avg_pieces_ppm") >= r1.getAs[Long]("avg_pieces_ppm"))
    // → coverage: every piece ever used is within the length budget, and
    // usage·len sums to total corpus characters (each char covered by
    // exactly one piece of its word's segmentation) — both rounds
    val totalChars = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w")))).head().getLong(0)
    for ((u, r) <- Seq((usage1, r1), (usage2, r2))) {
      val us = u.collect().map(x => (x.getString(0), x.getLong(1)))
      assert(us.forall(_._1.length <= operators.Text.unigramPieceMaxLen))
      val covered = us.map { case (p, n) => p.length.toLong * n }.sum
      assert(covered === totalChars,
        s"round ${r.getAs[Int]("round")}: covered $covered of $totalChars chars")
      assert(us.map(_._2).sum === r.getAs[Long]("total_pieces"))
    }
    // avg pieces/word stays a sane tokenizer fertility (>1x, <=4x: pieces
    // are at least 1 char and the seed keeps whole short words)
    Seq(r1, r2).foreach { r =>
      val ppm = r.getAs[Long]("avg_pieces_ppm")
      assert(ppm >= 1000000L && ppm <= 4000000L, s"fertility ppm $ppm")
    }
  }

  test("q289 TextRank equals a driver-side weighted-PageRank replica on a planted corpus; the hub word wins") {
    import spark.implicits._
    // 'hub' co-occurs with every other word; 'iso'+'late' only with each
    // other — centrality must rank hub first even though iso is as
    // frequent
    val docs = Seq(
      (1L, "hub alpha hub beta hub gamma", "en", "s", 27L),
      (2L, "iso late iso late iso late", "en", "s", 26L),
      (3L, "hub delta gamma hub alpha beta", "en", "s", 29L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("grafttr").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q289_textrank_keywords")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // driver replica: lead-1/lead-2 pairs, canonical weights, 3 exact
    // integer weighted-PR rounds (floor per edge, the operator's rule)
    val toks = Seq(Seq("hub","alpha","hub","beta","hub","gamma"),
      Seq("iso","late","iso","late","iso","late"),
      Seq("hub","delta","gamma","hub","alpha","beta"))
    val pairs = toks.flatMap { ts =>
      ts.indices.flatMap(i => Seq(1, 2).flatMap(o =>
        if (i + o < ts.length && ts(i) != ts(i + o))
          Some((Seq(ts(i), ts(i + o)).min, Seq(ts(i), ts(i + o)).max))
        else None))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = pairs.toSeq.flatMap { case ((l, r), w) => Seq((l, r, w), (r, l, w)) }
    val wsum = bi.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val words = bi.map(_._1).distinct
    var pr = words.map(_ -> 1000000L).toMap
    (1 to 3).foreach { _ =>
      val m = bi.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => pr(u) * w / wsum(u) }.sum).toMap
      pr = words.map(n => n -> (150000L + 85L * m.getOrElse(n, 0L) / 100L)).toMap
    }
    val expected = pr.toSeq.sortBy { case (w, r) => (-r, w) }.take(15)
    assert(got.toList === expected.toList, s"got ${got.toList}\nexp $expected")
    assert(got.head._1 === "hub")
  }

  test("q290 dedup weights reconcile with q59's clusters: size histogram, exact 1e6 div size, effective <= raw") {
    val q59 = q("q59_dup_clusters").collect()
      .map(_.getAs[Long]("cluster_size"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rows = q("q290_dedup_weights").collect()
    rows.foreach { r =>
      val (size, n, w, raw, eff) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))
      assert(n === q59(size), s"size $size: $n docs vs q59 ${q59(size)}")
      assert(w === 1000000L / size)
      if (size == 1L) assert(eff === raw * 1000000L, s"singletons undiluted")
      else assert(eff < raw * 1000000L, s"size $size must dilute")
    }
    assert(rows.map(r => r.getLong(1)).sum === q59.map { case (s2, n) => n }.sum)
  }

  test("q176 source overlap: planted vocabularies give exact Jaccard; duplicate tokens collapse") {
    import spark.implicits._
    // sA vocab {a,b,c} (b repeated — must collapse), sB {b,c,d},
    // sC {x}: A∩B = {b,c} → 2/4 = 500000 ppm; A-C and B-C disjoint → 0.
    val docs = Seq(
      (1L, "a b b c", "en", "sA", 7L),
      (2L, "b c d", "en", "sB", 5L),
      (3L, "x", "en", "sC", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftovl").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q176_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toList === List(("sA", "sB", 2L, 4L, 500000L)))
  }

  test("q141 repeated-passage spans: overlapping shingles merge to ONE maximal span; k-apart starts touch") {
    // doc 1 / doc 2 share an 8-token passage (a1..a8) and a 5-token
    // passage (b1..b5), separated by unique middles; doc 3 / doc 4 share
    // c1..c5 and c6..c10, placed so doc 3's duplicated starts are exactly
    // spanK apart (ranges touch -> merge) and doc 4's are 8 apart (split)
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 x1 x2 x3 x4 x5 x6 b1 b2 b3 b4 b5"),
      (2L, "z1 z2 a1 a2 a3 a4 a5 a6 a7 a8 z3 z4 z5 z6 z7 b1 b2 b3 b4 b5"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (4L, "c1 c2 c3 c4 c5 w1 w2 w3 c6 c7 c8 c9 c10"))
      .map { case (id, t) => (id, t, "en", "t", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftspans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val spans = SparkEntry.queries("q141_dup_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toList).toMap
    // the 8-token passage is 4 overlapping dup shingles -> ONE span, len 8
    assert(spans(1L) === List((0, 7, 8, 4L), (14, 18, 5, 1L)))
    assert(spans(2L) === List((2, 9, 8, 4L), (15, 19, 5, 1L)))
    // starts 0 and 5 are exactly spanK apart: covered ranges [0,4]+[5,9]
    // touch, so they merge into one maximal span
    assert(spans(3L) === List((0, 9, 10, 2L)))
    // starts 0 and 8 exceed the merge distance: two spans
    assert(spans(4L) === List((0, 4, 5, 1L), (8, 12, 5, 1L)))
  }

  test("q178 Heaps law: one-new-token-per-doc corpus grows vocabulary linearly at every checkpoint") {
    import spark.implicits._
    // doc i carries tokens t0..ti → after the first k docs the vocabulary
    // is exactly k tokens, so docs_seen == vocab at every checkpoint
    val docs = (0 until 10).map { i =>
      (i.toLong, (0 to i).map(j => s"t$j").mkString(" "), "en", "s", 10)
    }
    val dir = java.nio.file.Files.createTempDirectory("graftheaps").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q178_heaps_law")(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // cutoff(pct) = (9 · pct) div 100 → doc_ids 1, 3, 5, 7, 9
    assert(got.toList === List(
      ("s", 20, 2L, 2L), ("s", 40, 4L, 4L), ("s", 60, 6L, 6L),
      ("s", 80, 8L, 8L), ("s", 100, 10L, 10L)), got.mkString(","))
  }

  test("q181 n-gram novelty: cloned text scores zero, unique text scores full, short docs score zero-of-zero") {
    import spark.implicits._
    val nine = (1 to 9).map(i => s"w$i").mkString(" ")
    val eight = (1 to 8).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (0L, nine, "en", "s", 9),   // 2 shingles, both shared with doc 1
      (1L, nine, "en", "s", 9),   // exact clone
      (2L, eight, "en", "s", 8),  // 1 shingle, unique
      (3L, "x y", "en", "s", 3))  // < 8 tokens → no shingles
    val dir = java.nio.file.Files.createTempDirectory("graftnov").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q181_ngram_novelty")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toList === List(
      (0L, 2L, 0L, 0L), (1L, 2L, 0L, 0L),
      (2L, 1L, 1L, 1000000L), (3L, 0L, 0L, 0L)), got.mkString(","))
  }

  test("q204 LSH recall audit: the exact truth set is lossless; identical docs are always found") {
    import spark.implicits._
    // docs 1/2: identical 12-token sets → J = 1, an exact pair whose
    // minhashes agree in EVERY band (LSH can never miss it); docs 3/4:
    // 19 shared + 1 unique token each → J = 19/21 ≥ 0.9, caught by the
    // lossless prefix filter whatever the banding draws; doc 5 disjoint.
    val twelve = (1 to 12).map(i => s"a$i").mkString(" ")
    val base = (1 to 19).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, twelve, "en", "s", 1),
      (2L, twelve, "en", "s", 1),
      (3L, s"$base x1", "en", "s", 1),
      (4L, s"$base y1", "en", "s", 1),
      (5L, (1 to 10).map(i => s"c$i").mkString(" "), "en", "s", 1))
    val dir = java.nio.file.Files.createTempDirectory("graftrecall").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q204_lsh_recall")(spark, dir).head()
    val (nE, nC, nF) = (r.getAs[Long]("n_exact"),
      r.getAs[Long]("n_candidates"), r.getAs[Long]("n_found"))
    assert(nE === 2L, s"exact truth must hold {1-2, 3-4}: $r")
    assert(nF >= 1L && nF <= nE && nF <= nC, r.toString)
    assert(r.getAs[Long]("n_missed") === nE - nF, r.toString)
    assert(r.getAs[Long]("recall_ppm") === nF * 1000000L / nE, r.toString)
  }

  test("q205 tfidf cosine: identical docs score exactly 1e6; partial overlap ranks below; disjoint docs pair with nobody") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s", 5),
      (2L, "a b c", "en", "s", 5),
      (3L, "a b d", "en", "s", 5),
      (4L, "x y z", "en", "s", 5))
    val dir = java.nio.file.Files.createTempDirectory("graftcos").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q205_tfidf_cosine")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length === 3, got.mkString(","))
    // identical weight vectors: the perfect-square sqrt is exact, so the
    // ppm floor is exactly 1e6
    assert(got(0) === ((1L, 2L, 3L, 1000000L)), got(0).toString)
    assert(got(1)._1 === 1L && got(1)._2 === 3L && got(1)._3 === 2L)
    assert(got(2)._1 === 2L && got(2)._2 === 3L && got(2)._3 === 2L)
    assert(got(1)._4 === got(2)._4 && got(1)._4 > 0L && got(1)._4 < 1000000L)
  }

  test("q208 group k-fold: snake packing spreads size-ranked clusters; fold stats match the hand computation") {
    import spark.implicits._
    // clusters by identical text: {1,2,3}, {4,5}, then six singletons
    // 6..11 → ranks (size desc, label): c1,c4,6,7,8,9,10,11 → snake folds
    // 0,1,2,3,4,4,3,2
    val docs = Seq(
      (1L, "p q r", "en", "s", 5), (2L, "p q r", "en", "s", 5),
      (3L, "p q r", "en", "s", 5),
      (4L, "u v w", "en", "s", 5), (5L, "u v w", "en", "s", 5)) ++
      (6L to 11L).map(i => (i, s"s$i t$i", "en", "s", 5))
    val dir = java.nio.file.Files.createTempDirectory("graftkfold").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q208_group_kfold")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toList === List(
      (0L, 1L, 3L, 6L), (1L, 1L, 2L, 9L), (2L, 2L, 2L, 17L),
      (3L, 2L, 2L, 17L), (4L, 2L, 2L, 17L)), got.mkString(","))
  }

  test("q188 cross-lingual contamination: a shared 8-gram bridges exactly its two language partitions") {
    import spark.implicits._
    val eight = (1 to 8).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (0L, eight, "en", "s", 8),
      (1L, eight, "de", "s", 8),             // same shingle, other language
      (2L, (1 to 8).map(i => s"u$i").mkString(" "), "fr", "s", 8))
    val dir = java.nio.file.Files.createTempDirectory("graftxl").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q188_cross_lingual")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.toList === List(("de", "en", 1L)), got.mkString(","))
  }

  test("q199 containment: a fully-quoted short doc scores 1e6 against its container; single-shingle collisions are cut") {
    import spark.implicits._
    val a = (1 to 9).map(i => s"w$i").mkString(" ")             // 2 shingles
    val b = a + " " + (1 to 11).map(i => s"u$i").mkString(" ")  // contains both
    val c = (1 to 8).map(i => s"w$i").mkString(" ") + " z1"     // shares ONE
    val dir = java.nio.file.Files.createTempDirectory("graftcont").toString
    Seq((0L, a, "en", "s", 9), (1L, b, "en", "s", 20), (2L, c, "en", "s", 9))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q199_containment")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 2 shares only one shingle with 0 and with 1 → noise-cut; the
    // A-in-B quote survives with containment exactly 1e6
    assert(got.toList === List((0L, 1L, 2L, 1000000L)), got.mkString(","))
  }

  test("q200 Zipf fit: the fixture's frequency curve has a negative slope and a positive intercept") {
    val r = q("q200_zipf_fit").head()
    val vocab = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) > 0).select("t").distinct().count()
    assert(r.getAs[Long]("n") === math.min(1000L, vocab), r.toString)
    assert(r.getAs[Long]("slope_micro") < 0L, r.toString)
    assert(r.getAs[Long]("intercept_micro") > 0L, r.toString)
  }

  test("q198 survivorship: clusters partition the corpus and every golden doc wins its cluster's rules") {
    val rows = q("q198_survivorship").collect()
      .map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("n_members"),
        r.getAs[Long]("golden_doc"), r.getAs[Long]("golden_chars"),
        r.getAs[String]("major_lang"), r.getAs[Long]("lang_share_ppm")))
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // q59's labels are the same staged table — members per cluster
    val members = q("q59_dup_clusters").collect()
      .map(r => r.getAs[Long]("cluster_id") -> r.getAs[Long]("doc_id"))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(rows.map(_._2).sum === docs.size.toLong) // partition, no loss
    rows.foreach { case (cid, n, golden, gchars, mlang, share) =>
      val mem = members(cid)
      assert(mem.size.toLong === n, s"cluster $cid size")
      assert(mem.contains(golden), s"cluster $cid golden not a member")
      // longest text wins, smallest doc_id breaks ties
      val best = mem.maxBy(id => (docs(id)._2, -id))
      assert(golden === best && gchars === docs(best)._2, s"cluster $cid")
      // majority language: no other lang strictly beats the winner
      val byLang = mem.groupBy(id => docs(id)._1).view.mapValues(_.size).toMap
      assert(byLang.values.forall(_ <= byLang(mlang)), s"cluster $cid lang")
      assert(share === byLang(mlang).toLong * 1000000L / n, s"cluster $cid share")
    }
  }

  test("q192 retrieval metrics: a corpus with one perfect doc gives both rankers nDCG = MRR = 1e6") {
    import spark.implicits._
    // query terms resolve to the top-4 df tokens: 'a' (df 12) and b/c/d
    // (df 1, winning the tie against z* fillers alphabetically). doc 0
    // holds all four (grade 4); every other doc holds only 'a' (grade 1)
    // at equal length, so BOTH rankers put doc 0 first and the realized
    // DCG@10 equals the ideal — nDCG and MRR pin at exactly 1e6.
    val docs = (0L, "a b c d", "en", "s", 7) +:
      (1 to 11).map(i => (i.toLong, s"a z$i", "en", "s", 4))
    val dir = java.nio.file.Files.createTempDirectory("graftret").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q192_retrieval_metrics")(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("ndcg10_ppm"),
        r.getAs[Long]("mrr_ppm"), r.getAs[Long]("n_rel_top10")))).toMap
    assert(got === Map(
      "bm25" -> ((1000000L, 1000000L, 1L)),
      "tf" -> ((1000000L, 1000000L, 1L))), got.toString)
    // fixture run: metrics stay inside their definitional bounds
    val fx = q("q192_retrieval_metrics").collect()
    fx.foreach { r =>
      assert(r.getAs[Long]("ndcg10_ppm") <= 1000000L, r.toString)
      assert(r.getAs[Long]("mrr_ppm") <= 1000000L, r.toString)
      assert(r.getAs[Long]("n_rel_top10") <= 10L, r.toString)
    }
  }

  test("q185 perplexity tertiles: buckets partition each language into near-equal, ce-ordered slices") {
    val got = q("q185_perplexity_buckets").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getAs[Long]("n_docs"), r.getAs[Long]("min_ce"),
        r.getAs[Long]("max_ce")))
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val byTier = rows.sortBy(_._2)
      assert(byTier.map(_._2).sameElements(1 to byTier.length), lang)
      assert(byTier.map(_._3).toList ==
        List("head", "middle", "tail").take(byTier.length), lang)
      // NTILE's equal-split contract: sizes differ by at most one,
      // earlier tiers never smaller
      val sizes = byTier.map(_._4)
      assert(sizes.max - sizes.min <= 1 && sizes.sameElements(sizes.sortBy(-_)), lang)
      // tiers are contiguous in cross-entropy order
      byTier.sliding(2).foreach {
        case Array(a, b) => assert(a._6 <= b._5, s"$lang tier overlap")
        case _ =>
      }
    }
    // every scored (≥ 1 token) document of the fixture lands in a bucket
    val scoredDocs = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0)).as("n"))
      .filter(col("n") > 0).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bucketed = got.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(bucketed === scoredDocs, s"$bucketed vs $scoredDocs")
  }

  test("q214 kappa: hand-built confusion cells give the exact cross-multiplied rational") {
    import spark.implicits._
    // cells: (en,en)=2, (es,es)=1, (en,es)=1 → N=4, agree=3,
    // pe_num = 3·2 + 1·2 = 8 → po 750000, pe 500000,
    // kappa = (12−8)·1e6 // (16−8) = 500000
    val docs = Seq(
      (1L, "the of x", "en", "s", 8),
      (2L, "the and y", "en", "s", 9),
      (3L, "el la z", "es", "s", 7),
      (4L, "el la que", "en", "s", 9))
    val dir = java.nio.file.Files.createTempDirectory("graftkappa").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q214_kappa_agreement")(spark, dir).head()
    assert((r.getAs[Long]("n"), r.getAs[Long]("agree"),
      r.getAs[Long]("po_ppm"), r.getAs[Long]("pe_ppm"),
      r.getAs[Long]("kappa_ppm"))
      === ((4L, 3L, 750000L, 500000L, 500000L)), r.toString)
  }

  test("q216 length bias: planted sources land on exact global percentile means") {
    import spark.implicits._
    // lengths 10/20 (source A) and 30/40 (source B) → global percentiles
    // 25/50/75/100% → A mean 375000, B mean 875000
    val docs = Seq(
      (1L, "a", "en", "A", 10), (2L, "b", "en", "A", 20),
      (3L, "c", "en", "B", 30), (4L, "d", "en", "B", 40))
    val dir = java.nio.file.Files.createTempDirectory("graftlenb").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q216_length_bias")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toList === List(
      ("A", 2L, 375000L, 250000L, 500000L),
      ("B", 2L, 875000L, 750000L, 1000000L)), got.mkString(","))
  }

  test("q219 vocab coverage: a planted Zipf toy gives the hand-computed checkpoints") {
    import spark.implicits._
    // term mass: a x6, b x2, c x1, d x1 → total 10, ranks a,b,c,d with
    // cumulative 6/8/9/10 → v50=1, v90=3, v95=4, v99=4
    val docs = Seq(
      (1L, "a a a b", "en", "s", 7),
      (2L, "a a a b c d", "en", "s", 11))
    val dir = java.nio.file.Files.createTempDirectory("graftvocab").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q219_vocab_coverage")(spark, dir).head()
    assert((r.getAs[Long]("total_tokens"), r.getAs[Long]("vocab_size"),
      r.getAs[Long]("v50"), r.getAs[Long]("v90"), r.getAs[Long]("v95"),
      r.getAs[Long]("v99"))
      === ((10L, 4L, 1L, 3L, 4L, 4L)), r.toString)
  }

  test("q229 CV accuracy: folds partition the corpus and the per-fold rational is exact") {
    val rows = SparkEntry.queries("q229_cv_accuracy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toList === List(0L, 1L, 2L, 3L, 4L))
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum === total, "folds must partition the corpus")
    rows.foreach { case (f, n, c, acc) =>
      assert(c <= n && acc === c * 1000000L / n, s"fold $f")
    }
  }

  test("q230 skip-gram lift: an alternating stream gives the hand-computed pair lifts") {
    import spark.implicits._
    // "a b" x6: dist-1 pairs ab x6, ba x5; dist-2 pairs aa x5, bb x5 →
    // nn=21, marginals a=b=6 → lift(ab)=3500000, others 2916666
    val docs = Seq((1L, Seq.fill(6)("a b").mkString(" "), "en", "s", 23))
    val dir = java.nio.file.Files.createTempDirectory("graftskip").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q230_skipgram_lift")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toList === List(
      ("a", "b", 6L, 3500000L), ("a", "a", 5L, 2916666L),
      ("b", "a", 5L, 2916666L), ("b", "b", 5L, 2916666L)),
      got.mkString(","))
  }

  test("q231 source KL: identical sources diverge zero; a skewed source diverges positively") {
    import spark.implicits._
    // source A matches the corpus blend exactly when B mirrors it;
    // make B all-'x' so A (all-'y') must diverge symmetrically > 0
    val docs = Seq(
      (1L, "y y y y", "en", "A", 7),
      (2L, "x x x x", "en", "B", 7))
    val dir = java.nio.file.Files.createTempDirectory("graftkl").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q231_source_kl")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // p_s = 1 for each source's own token, p_c = 1/2 → KL = ln 2 exactly
    assert(got.toList === List(
      ("A", 4L, 1L, 693147L), ("B", 4L, 1L, 693147L)), got.mkString(","))
  }

  test("q291 exact-substring: planted verbatim leak measures its exact run; a lone 8-gram stays at the seed; a 7-token overlap is rejected") {
    import spark.implicits._
    // benchmark doc 5: 40 unique tokens b1..b40
    val bench = (1 to 40).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (5L, bench, "en", "t", 100L),
      // 10: VERBATIM 40-token copy inside padding → longest = 40,
      // start at 1-based position 4 (after 3 pad tokens)
      (10L, s"p1 p2 p3 $bench s1 s2", "en", "t", 200L),
      // 11: exactly ONE shared 8-gram (b1..b8) then diverges — the
      // boilerplate case the n-gram rung flags identically to a full
      // leak; exact-substring pins it AT the seed length
      (11L, (1 to 8).map(i => s"b$i").mkString(" ") + " " +
        (1 to 12).map(i => s"z$i").mkString(" "), "en", "t", 150L),
      // 12: a 7-token overlap (b1..b7) — below the seed, the near-miss
      // the winnowing rung (shared runs ≥ 7) would flag but the exact
      // 8-gram audit rejects
      (12L, (1 to 7).map(i => s"b$i").mkString(" ") + " " +
        (1 to 12).map(i => s"y$i").mkString(" "), "en", "t", 140L),
      // 13: clean
      (13L, (1 to 20).map(i => s"c$i").mkString(" "), "en", "t", 130L),
      // 14: TWO disjoint 8-gram hits (b1..b8 and b21..b28, split by a
      // divergent token) → two runs, longest still the seed
      (14L, (1 to 8).map(i => s"b$i").mkString(" ") + " xx " +
        (21 to 28).map(i => s"b$i").mkString(" "), "en", "t", 180L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graftlcs").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q291_exact_substring")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // verbatim leak: 40-token run, bench doc 5, start 4, one maximal
    // run of 33 seed hits
    assert(out(10L) === ((40L, 5L, 4L, 1L, 33L, true)), out(10L).toString)
    assert(out(11L) === ((8L, 5L, 1L, 1L, 1L, true)), out(11L).toString)
    assert(out(12L) === ((0L, -1L, 0L, 0L, 0L, false)),
      "a 7-token overlap must NOT register at an 8-token seed")
    assert(out(13L) === ((0L, -1L, 0L, 0L, 0L, false)))
    assert(out(14L) === ((8L, 5L, 1L, 2L, 2L, true)), out(14L).toString)
    assert(!out.contains(5L), "benchmark docs are not audited")
  }

  test("q232 dedup savings: planted clusters report exact removable docs and characters") {
    import spark.implicits._
    // cluster {1,2,3} identical text (chars 10/12/14 via n_chars) → keep
    // max 14, remove 2 docs and 22 chars; two singletons remove nothing
    val t3 = "p q r"
    val docs = Seq(
      (1L, t3, "en", "s", 10), (2L, t3, "en", "s", 12),
      (3L, t3, "en", "s", 14),
      (4L, "u v w", "en", "s", 9), (5L, "x y z", "en", "s", 8))
    val dir = java.nio.file.Files.createTempDirectory("graftsavings").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q232_dedup_savings")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.toList === List(
      (1L, 2L, 2L, 0L, 0L), (3L, 1L, 3L, 2L, 22L)), got.mkString(","))
  }

  test("q320 Naive Bayes: a disjoint-vocabulary corpus classifies perfectly, including the prior-only empty doc") {
    import spark.implicits._
    // two languages with DISJOINT vocabularies: every test token is
    // Laplace-1 under the wrong class and count-heavy under its own, so
    // a perfect diagonal is the only possible outcome — the planted law
    // a trained filter must pass before its scores mean anything.
    // Fold membership is md5(doc_id)-determined (q75's split), so the
    // spec derives it the same way and asserts both folds are populated.
    val aWords = Vector("alpha", "beta", "gamma")
    val bWords = Vector("delta", "epsilon", "zeta")
    val bucketOf = (1L to 200L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def textOf(id: Long, ws: Vector[String]) =
      (0 until 8).map(i => ws(((id + i) % ws.size).toInt)).mkString(" ")
    // languages alternate by id; lang "aa" also gets the one EMPTY test
    // doc (id 0 below), and has more docs overall only via that doc's
    // absence from training — priors stay data-derived
    val docs = (1L to 200L).map { id =>
      val (lg, ws) = if (id % 2 == 0) ("aa", aWords) else ("bb", bWords)
      (id, textOf(id, ws), lg, "t", 10L)
    }
    val emptyTestId = (1L to 200L)
      .find(id => bucketOf(id) >= 90 && id % 2 == 0).get
    val withEmpty = docs.map { case (id, tx, lg, src, nc) =>
      if (id == emptyTestId) (id, "", lg, src, nc) else (id, tx, lg, src, nc)
    }
    val trainA = withEmpty.count(d => bucketOf(d._1) < 80 && d._3 == "aa")
    val trainB = withEmpty.count(d => bucketOf(d._1) < 80 && d._3 == "bb")
    val testN = withEmpty.count(d => bucketOf(d._1) >= 90)
    assert(trainA > 0 && trainB > 0 && testN > 1, s"$trainA $trainB $testN")
    // the empty doc scores on priors alone — make its label the
    // majority-prior class so the diagonal stays perfect (if the folds
    // ever tip the prior the assert below names the cell that moved)
    assert(trainA >= trainB, s"prior argmax must be 'aa': $trainA vs $trainB")
    val dir = java.nio.file.Files.createTempDirectory("graftnb").toString
    withEmpty.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q320_naive_bayes")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(got.forall { case (t, p, _) => t == p }, got.mkString(","))
    assert(got.map(_._3).sum === testN.toLong, got.mkString(","))
  }

  test("q356 NB reliability: disjoint-vocab docs land in the top LLR bucket at accuracy 1.0, exactly-balanced docs land at margin 0 with coin-flip accuracy, and the keep-curve reads the threshold table") {
    import spark.implicits._
    // symmetric corpus: 4 'aa' + 4 'bb' train docs of 5 disjoint tokens
    // each (so every shared count is 4, N_c = 20 each, V = 10, priors
    // equal). Pure 8-token test docs carry margin 8·(ln5·10⁶ rounded) =
    // 12875504 ≥ 10⁷ — the top bucket, all correct. 'a1 a2 b1 b2' test
    // docs score IDENTICALLY under both classes (term-for-term
    // symmetric), so margin is exactly 0, prediction falls to the
    // alphabetical tie-break ('aa'), and the two 'bb'-labeled ones are
    // wrong: bucket 0 reads accuracy 500000 — the planted unreliable
    // mass the keep threshold exists to exclude.
    val bucketOf = (1L to 500L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (1L to 500L).filter(bucketOf(_) < 80).take(8)
    val testIds = (1L to 500L).filter(bucketOf(_) >= 90).take(8)
    assert(trainIds.size == 8 && testIds.size == 8)
    val aTrain = "a1 a2 a3 a4 a5"
    val bTrain = "b1 b2 b3 b4 b5"
    val docs =
      trainIds.take(4).map(id => (id, aTrain, "aa", "t", 10L)) ++
        trainIds.drop(4).map(id => (id, bTrain, "bb", "t", 10L)) ++
        testIds.take(2).map(id =>
          (id, "a1 a2 a3 a4 a5 a1 a2 a3", "aa", "t", 10L)) ++
        testIds.slice(2, 4).map(id =>
          (id, "b1 b2 b3 b4 b5 b1 b2 b3", "bb", "t", 10L)) ++
        testIds.slice(4, 6).map(id => (id, "a1 a2 b1 b2", "aa", "t", 10L)) ++
        testIds.slice(6, 8).map(id => (id, "a1 a2 b1 b2", "bb", "t", 10L))
    val dir = java.nio.file.Files.createTempDirectory("graftnbr").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q356_nb_reliability")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toList
    assert(got === List(
      (0L, 4L, 2L, 500000L, 8L, 6L, 750000L),
      (1000000L, 0L, 0L, -1L, 4L, 4L, 1000000L),
      (2000000L, 0L, 0L, -1L, 4L, 4L, 1000000L),
      (5000000L, 0L, 0L, -1L, 4L, 4L, 1000000L),
      (10000000L, 4L, 4L, 1000000L, 4L, 4L, 1000000L)),
      got.mkString("\n"))
  }

  test("q363 isotonic calibration: a planted non-monotone reliability table pools exactly as PAV demands (the minimax anchors hand-computed), monotone buckets pass through unadjusted, and empty buckets stay -1") {
    import spark.implicits._
    val bucketOf = (1L to 500L).toDF("doc_id")
      .withColumn("bk", graft.functions.Hashing.md5Bucket(col("doc_id"), 100))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (1L to 500L).filter(bucketOf(_) < 80).take(8)
    val testIds = (1L to 500L).filter(bucketOf(_) >= 90).take(10)
    assert(trainIds.size == 8 && testIds.size == 10)
    // q356's symmetric 4+4 training corpus: every margin is a net
    // a-minus-b token count times (ln5 in micro) = k·1609438, so the
    // five buckets are hit exactly: k = 0, 1, 2, 5, 8
    val aT = "a1 a2 a3 a4 a5"; val bT = "b1 b2 b3 b4 b5"
    val docs =
      trainIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
        trainIds.drop(4).map(id => (id, bT, "bb", "t", 10L)) ++
        // bucket 0 (margin 0): tie-break 'aa' → 1 of 2 correct
        Seq((testIds(0), "a1 a2 b1 b2", "aa", "t", 10L),
          (testIds(1), "a1 a2 b1 b2", "bb", "t", 10L),
          // bucket 1e6 (k=1 → 1609438): both correct — then a DIP:
          (testIds(2), "a1 a2 a3 b1 b2", "aa", "t", 10L),
          (testIds(3), "a1 a2 a3 b1 b2", "aa", "t", 10L),
          // bucket 2e6 (k=2 → 3218876): both labeled bb, pred aa → 0/2
          (testIds(4), "a1 a2 a3 a4 b1 b2", "bb", "t", 10L),
          (testIds(5), "a1 a2 a3 a4 b1 b2", "bb", "t", 10L),
          // bucket 5e6 (k=5 → 8047190): both correct
          (testIds(6), "a1 a2 a3 a4 a5 a1 b1", "aa", "t", 10L),
          (testIds(7), "a1 a2 a3 a4 a5 a1 b1", "aa", "t", 10L),
          // bucket 1e7 (k=8 → 12875504): both correct
          (testIds(8), "a1 a2 a3 a4 a5 a1 a2 a3", "aa", "t", 10L),
          (testIds(9), "a1 a2 a3 a4 a5 a1 a2 a3", "aa", "t", 10L))
    val dir = java.nio.file.Files.createTempDirectory("graftiso").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q363_nb_isotonic")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toList
    // raw accs (1/2, 1, 0, 1, 1): the minimax fit pools the dip with
    // its neighbors — min over (0,2) and (1,2) intervals is 3/6 and
    // 2/4 = 1/2, so buckets 0/1e6/2e6 all calibrate to 500000 while
    // the top two stay 1.0 (hand-traced over all 15 intervals)
    assert(got === List(
      (0L, 2L, 1L, 500000L, 500000L, false),
      (1000000L, 2L, 2L, 1000000L, 500000L, true),
      (2000000L, 2L, 0L, 0L, 500000L, true),
      (5000000L, 2L, 2L, 1000000L, 1000000L, false),
      (10000000L, 2L, 2L, 1000000L, 1000000L, false)),
      got.mkString("\n"))
    // empty-bucket sentinel: only margin-0 and top-bucket docs
    val docs2 =
      trainIds.take(4).map(id => (id, aT, "aa", "t", 10L)) ++
        trainIds.drop(4).map(id => (id, bT, "bb", "t", 10L)) ++
        Seq((testIds(0), "a1 a2 b1 b2", "aa", "t", 10L),
          (testIds(1), "a1 a2 b1 b2", "bb", "t", 10L),
          (testIds(2), "a1 a2 a3 a4 a5 a1 a2 a3", "aa", "t", 10L))
    val dir2 = java.nio.file.Files.createTempDirectory("graftiso2")
      .toString
    docs2.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir2/documents.parquet")
    val got2 = SparkEntry.queries("q363_nb_isotonic")(spark, dir2)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toList
    assert(got2 === List(
      (0L, 500000L, 500000L, false),
      (1000000L, -1L, -1L, false),
      (2000000L, -1L, -1L, false),
      (5000000L, -1L, -1L, false),
      (10000000L, 1000000L, 1000000L, false)), got2.mkString("\n"))
  }
}
