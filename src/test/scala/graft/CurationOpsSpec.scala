package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextOps

/** Round-11 curation operators: the Gopher rule set, C4 segment
  * cleaning, and DSIR importance resampling (with its engine-portable
  * fixed-point log2). */
class CurationOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // A doc that passes every Gopher rule at the defaults: 60 words,
  // mean length in [3,10], stopwords present, all-alpha, no symbols.
  private val goodText =
    (Seq("the", "report", "that", "councils", "have", "shared", "with") ++
      (1 to 53).map(i => s"word${i % 7}x")).mkString(" ")

  private def gopher(rows: Seq[(Long, String)]) =
    TextOps.gopherRules(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

  test("gopherRules: a well-formed doc passes every rule") {
    val r = gopher(Seq((1L, goodText)))(1L)
    for (f <- Seq("r_words", "r_mean_len", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop", "keep"))
      assert(r.getAs[Boolean](f), s"$f should hold:\n$r")
    assert(r.getAs[Long]("n_words") === 60L)
  }

  test("gopherRules: each rule fires on its own violation") {
    val tooShort = "the quick brown fox that we have with"
    val longWords = (Seq("the", "that", "have", "with") ++
      (1 to 56).map(_ => "extraordinarily")).mkString(" ")
    val symbols = (Seq("the", "that", "have", "with") ++
      (1 to 28).map(_ => "ok#now") ++ (1 to 28).map(_ => "so...on"))
      .mkString(" ")
    val bullets = (1 to 10).map(i => s"- the bullet item $i number six")
      .mkString("\n")
    // 4 ellipsis-terminated lines of 15 words: ellipsis_frac = 1.0 (> 0.3)
    // while the symbol ratio stays at 4/60 ≤ 0.1, isolating the rule
    val ellipses = (1 to 4).map(i =>
      s"the line $i that have with " +
        (1 to 8).map(j => s"fill${j}er").mkString(" ") + " trails...")
      .mkString("\n")
    val numeric = (Seq("the", "that", "have", "with") ++
      (1 to 56).map(i => s"${i}000")).mkString(" ")
    val noStops = (1 to 60).map(i => s"token${i % 9}").mkString(" ")
    val m = gopher(Seq(1L -> tooShort, 2L -> longWords, 3L -> symbols,
      4L -> bullets, 5L -> ellipses, 6L -> numeric, 7L -> noStops))
    def only(id: Long, failed: String): Unit = {
      val r = m(id)
      assert(!r.getAs[Boolean](failed), s"doc $id should fail $failed:\n$r")
      assert(!r.getAs[Boolean]("keep"))
      val others = Seq("r_words", "r_mean_len", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop").filterNot(_ == failed)
      others.foreach(f => assert(r.getAs[Boolean](f),
        s"doc $id should still pass $f:\n$r"))
    }
    only(1L, "r_words")
    only(2L, "r_mean_len")
    only(3L, "r_symbol")
    only(5L, "r_ellipsis")
    only(6L, "r_alpha")
    only(7L, "r_stop")
    // the all-bullet doc fails the bullet rule (others may also trip)
    assert(!m(4L).getAs[Boolean]("r_bullet"))
    assert(!m(4L).getAs[Boolean]("keep"))
  }

  test("gopherRules: NULL text keeps nothing and poisons no signal") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(9L, null: String), Row(1L, goodText)),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
    val out = TextOps.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out(9L).getAs[Boolean]("keep"))
    assert(out(9L).isNullAt(out(9L).fieldIndex("n_words")))
    assert(out(1L).getAs[Boolean]("keep"))
  }

  test("gopherRules plan: per-row, no Exchange") {
    val df = Seq((1L, goodText)).toDF("doc_id", "text")
    val plan = TextOps.gopherRules(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ----- C4 segment cleaning ------------------------------------------

  test("c4Clean: a clean doc reassembles byte-identically") {
    val text = (1 to 35).map(i => s"w$i").mkString(" ") // 3 full + 5-word tail
    val out = TextOps.c4Clean(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("text_clean") === text)
    assert(out(0).getAs[Long]("n_total") === 4L)
    assert(out(0).getAs[Long]("n_kept") === 4L)
  }

  test("c4Clean: short tail segment is cut, text renders without it") {
    val text = (1 to 33).map(i => s"w$i").mkString(" ") // tail has 3 < 5 words
    val out = TextOps.c4Clean(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(out(0).getAs[Long]("n_total") === 4L)
    assert(out(0).getAs[Long]("n_kept") === 3L)
    assert(out(0).getAs[String]("text_clean") ===
      (1 to 30).map(i => s"w$i").mkString(" "))
  }

  test("c4Clean: a blacklisted token kills exactly its segment") {
    val words = (1 to 40).map(i => if (i == 15) "JavaScript" else s"w$i")
    val out = TextOps.c4Clean(Seq((1L, words.mkString(" ")))
      .toDF("doc_id", "text"), "doc_id", "text").collect()
    assert(out(0).getAs[Long]("n_kept") === 3L)
    val expect = ((1 to 10) ++ (21 to 40)).map(i => s"w$i").mkString(" ")
    assert(out(0).getAs[String]("text_clean") === expect)
  }

  test("c4Clean: docs keeping fewer than minSegs segments drop entirely") {
    val short = (1 to 24).map(i => s"w$i").mkString(" ") // 2 full + 4-word tail
    val long = (1 to 30).map(i => s"w$i").mkString(" ")  // 3 full
    val out = TextOps.c4Clean(
      Seq((1L, short), (2L, long)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("c4Clean plan: per-row, no Exchange") {
    val df = Seq((1L, goodText)).toDF("doc_id", "text")
    val plan = TextOps.c4Clean(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ----- fixed-point log2 ---------------------------------------------

  /** Scala reference of the digit-extraction fold — the same IEEE ops
    * the Spark expression and the DuckDB CTE chain perform. */
  private def refLog2Fixed(n: Long): Long = {
    val b = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var y = n.toDouble / math.pow(2.0, b)
    var v = 0L
    var i = 0
    while (i < 20) {
      y = y * y
      if (y >= 2.0) { y /= 2.0; v = v * 2 + 1 } else v = v * 2
      i += 1
    }
    b * 1048576L + v
  }

  test("log2Fixed matches the IEEE digit-extraction reference exactly") {
    val ns = (1L to 2000L) ++ Seq(54L, 802L, 1947L, 26242L,
      999999937L, 1L << 40, (1L << 52) + 12345L)
    val got = spark.createDataset(ns).toDF("n")
      .select(col("n"), TextOps.log2Fixed(col("n")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach(n => assert(got(n) === refLog2Fixed(n), s"n=$n"))
  }

  test("log2Fixed is within 1 fixed-point ulp of true log2") {
    for (n <- Seq(3L, 54L, 1000L, 999999937L)) {
      val t = math.floor(math.log(n.toDouble) / math.log(2.0) * 1048576).toLong
      assert(math.abs(refLog2Fixed(n) - t) <= 1, s"n=$n")
    }
  }

  // ----- trigram language ID ------------------------------------------

  test("langIdNgram: catches stopword-free fragments the word heuristic " +
    "misses; no hit → und") {
    val df = Seq(
      (1L, "untergrundbahnen"),   // German compound, zero DE stopwords
      (2L, "the"),                // 3-char English fragment
      (3L, "12345 67890"),        // no profile hit
      (4L, ""))                   // sub-trigram
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextOps.langIdNgram(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "de")
    assert(out(2L) === "en")
    assert(out(3L) === "und")
    assert(out(4L) === "und")
    // the stopword heuristic has no signal on the compound
    val word = df.select(col("doc_id"), TextOps.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(word(1L) === "und")
  }

  // ----- bigram LM proxy ----------------------------------------------

  test("ngramLogFreq(2): closed-form mean bit-length of bigram counts; " +
    "sub-bigram docs drop") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val out = TextOps.ngramLogFreq(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    // corpus bigram counts: "a b"=3, "b a"=1, "x y"=1
    assert(out(1L).getAs[Long]("n_ngrams") === 3L)
    assert(out(1L).getAs[Double]("lm_score") ===
      math.rint((2 + 1 + 2) / 3.0 * 1e6) / 1e6)
    assert(out(2L).getAs[Double]("lm_score") === 2.0)
    assert(out(3L).getAs[Double]("lm_score") === 1.0)
    assert(!out.contains(4L), "a 1-word doc has no bigrams")
  }

  // ----- DSIR ----------------------------------------------------------

  private val targetDocs = Seq(
    (101L, "physics physics neutron quark the of"),
    (102L, "physics quark boson lattice the of")).toDF("doc_id", "text")
  private val rawDocs = Seq(
    (1L, "physics quark paper the of"),
    (2L, "recipe butter sugar flour the of"),
    (3L, "recipe recipe butter oven the of")).toDF("doc_id", "text")

  test("dsirWeights: complete bucket domain, LR signs follow the corpora") {
    val B = 64
    val wts = TextOps.dsirWeights(targetDocs, rawDocs, "text", B)
    val rows = wts.collect()
    assert(rows.length === B)
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until B.toLong))
    val byBucket = rows.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def bucketOf(w: String): Long = {
      // strHash is the polynomial char fold mod 1e9+7
      var h = 0L
      w.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
      h % B
    }
    val (ctP, crP, wPhysics) = byBucket(bucketOf("physics"))
    val (ctR, crR, wRecipe) = byBucket(bucketOf("recipe"))
    assert(ctP === 3L && crP === 1L)
    assert(ctR === 0L && crR === 3L)
    assert(wPhysics > 0, s"target-skewed token must score positive: $wPhysics")
    assert(wRecipe < 0, s"raw-only token must score negative: $wRecipe")
  }

  test("dsirScores: the doc score is the exact integer weight sum") {
    val B = 64
    val wts = TextOps.dsirWeights(targetDocs, rawDocs, "text", B)
    val wMap = wts.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    def bucketOf(w: String): Long = {
      var h = 0L
      w.foreach(c => h = (h * 31 + c.toLong) % 1000000007L)
      h % B
    }
    val scores = TextOps.dsirScores(rawDocs, "doc_id", "text", wts, B)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2)))).toMap
    // recompute doc 1 by hand
    val expected1 = "physics quark paper the of".split(" ")
      .map(w => wMap(bucketOf(w))).sum
    val (n1, s1) = scores.collect {
      case (n, (id, s)) if id == 1L => (n, s)
    }.head
    assert(n1 === 5L)
    assert(s1 === expected1)
    // the physics doc must outrank the recipe docs under the physics target
    val ranked = TextOps.dsirTopK(
      TextOps.dsirScores(rawDocs, "doc_id", "text", wts, B), "doc_id", 3)
      .collect().map(_.getLong(0)).toSeq
    assert(ranked.head === 1L, s"physics doc should rank first: $ranked")
  }

  // ----- Gopher repetition battery ------------------------------------

  test("gopherRepetition: a dominant bigram trips the top-2gram rule " +
    "with the exact closed-form coverage") {
    val text = "spam spam spam spam" // chars=19
    val out = TextOps.gopherRepetition(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text").collect()
    val r = out.head
    // "spam spam" occurs 3x (overlaps count), len 9 → 27/19
    assert(r.getAs[Double]("top_2gram_frac") === math.rint(27.0 / 19 * 1e6) / 1e6)
    // "spam spam spam" 2x, len 14 → 28/19
    assert(r.getAs[Double]("top_3gram_frac") === math.rint(28.0 / 19 * 1e6) / 1e6)
    // no 5-grams exist in a 4-word doc
    assert(r.getAs[Double]("dup_5gram_frac") === 0.0)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("gopherRepetition: a repeated 5-gram lands in dup_5gram_frac " +
    "exactly; distinct docs keep") {
    val rep = "a b c d e x a b c d e y" // "a b c d e" 2x, chars=23
    val clean = (1 to 60).map(i => s"uniq${i}w").mkString(" ")
    val out = TextOps.gopherRepetition(
      Seq((1L, rep), (2L, clean)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Double]("dup_5gram_frac") ===
      math.rint(18.0 / 23 * 1e6) / 1e6) // 2 * len("a b c d e")=18
    assert(!out(1L).getAs[Boolean]("keep"))
    assert(out(2L).getAs[Double]("dup_5gram_frac") === 0.0)
    assert(out(2L).getAs[Boolean]("keep"))
  }

  test("gopherRepetition: NULL text yields NULL fractions and keep=false " +
    "(matching SQL NULL propagation, not NaN)") {
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(9L, null: String),
        org.apache.spark.sql.Row(1L, "spam spam spam spam")),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
    val out = TextOps.gopherRepetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(9L).isNullAt(out(9L).fieldIndex("top_2gram_frac")))
    assert(!out(9L).getAs[Boolean]("keep"))
    assert(!out(1L).getAs[Boolean]("keep"))
  }

  test("gopherRepetition plan: no join, no cartesian, and ZERO " +
    "shuffles — the coverage kernel keeps every gram in its row (r20; " +
    "the r13 relational form paid one window shuffle + a corpus-gram " +
    "hash agg)") {
    // Range input — a local Seq constant-folds the whole per-row plan
    // into a LocalTableScan and there is nothing left to assert on
    val df = spark.range(4).select(col("id").as("doc_id"),
      concat(lit(goodText), lit(" "), col("id")).as("text"))
    val plan = TextOps.gopherRepetition(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("Exchange"),
      s"expected a shuffle-free per-row plan:\n$plan")
    assert(plan.contains("graft_gopher_rep_coverage"), plan)
  }

  // ----- probabilistic score sampling ---------------------------------

  test("scoreSample: keep rate tracks the score, extremes are exact, " +
    "reruns identical, salts independent") {
    val df = spark.range(10000).toDF("doc_id")
    def kept(score: Double, salt: String): Set[Long] =
      TextOps.scoreSample(df.withColumn("s", lit(score)), "doc_id",
        col("s"), salt).collect().map(_.getLong(0)).toSet
    assert(kept(0.0, "a").isEmpty)
    assert(kept(1.0, "a").size === 10000)
    val third = kept(0.3, "a")
    assert(third.size > 2700 && third.size < 3300,
      s"keep rate should track 0.3: ${third.size}")
    assert(kept(0.3, "a") === third, "rerun must be identical")
    val other = kept(0.3, "b")
    assert(other.size > 2700 && other.size < 3300)
    assert(other !== third, "distinct salts draw independently")
    // scores beyond [0,1] clamp instead of corrupting the cut
    assert(kept(7.5, "a").size === 10000)
    assert(kept(-2.0, "a").isEmpty)
  }

  // ----- embedding outliers -------------------------------------------

  test("embedOutliers: bottom-k cosine to the quantized corpus mean, " +
    "closed form; zero vectors excluded") {
    import graft.operators.LlmOps
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 1.0f)), (9L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = LlmOps.embedOutliers(vecs, "vec_id", col("embedding"), k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // q1=(127,0), q2=(0,127), q3=(127,127); zero vector 9 drops.
    // mean m=(254/3, 254/3): cos(q1,m)=cos(q2,m)=1/sqrt(2), cos(q3,m)=1
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out(0)._2 === 0.707107)
    assert(out(1)._2 === 0.707107)
    assert(out(2)._2 === 1.0)
  }

  test("dsirScores plan: weight join is broadcast, one keyed agg") {
    val B = 64
    val wts = TextOps.dsirWeights(targetDocs, rawDocs, "text", B)
    val plan = TextOps.dsirScores(rawDocs, "doc_id", "text", wts, B)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  // ----- count-min sketch heavy hitters -------------------------------

  test("countMinSketch: per-row mass equals the gram stream; wide " +
    "sketch recovers exact counts, narrow sketch over-estimates only") {
    import graft.operators.LlmOps
    val docs = Seq(
      (1L, "a b a b a b"), // grams: "a b" x3, "b a" x2
      (2L, "a b c d")      // "a b", "b c", "c d"
    ).toDF("doc_id", "text")
    val sk = TextOps.countMinSketch(docs, "doc_id", "text",
      n = 2, depth = 4, width = 4096)
    val mass = sk.groupBy("r").agg(sum("cnt").as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mass === Map(0 -> 8L, 1 -> 8L, 2 -> 8L, 3 -> 8L),
      "every sketch row counts all 8 gram occurrences")
    val exact = LlmOps.shingleHashes(docs, "doc_id", "text", 2,
      dedup = false).groupBy("h").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = TextOps.cmsHeavyHitters(docs, "doc_id", "text",
      n = 2, k = 10, depth = 4, width = 4096)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide === exact, "collision-free sketch is exact")
    val narrow = TextOps.cmsHeavyHitters(docs, "doc_id", "text",
      n = 2, k = 10, depth = 4, width = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(narrow.keySet === exact.keySet)
    assert(exact.forall { case (h, c) => narrow(h) >= c },
      s"CM estimates are one-sided: $narrow vs $exact")
  }

  test("cmsHeavyHitters: a caller-supplied candidate absent from the " +
    "counted stream estimates 0 (empty cell), not a silent drop") {
    val docs = Seq((1L, "a b a b"), (2L, "c d")).toDF("doc_id", "text")
    // one real gram hash + one hash no gram maps to: the wide sketch
    // has empty cells for the phantom, whose CM point estimate is 0
    val realH = graft.operators.LlmOps.shingleHashes(
      docs, "doc_id", "text", 2, dedup = false)
      .select("h").head.getLong(0)
    val cand = Seq(realH, 999999999L).toDF("h")
    val est = TextOps.cmsHeavyHitters(docs, "doc_id", "text",
      n = 2, k = 10, depth = 4, width = 4096, candidates = Some(cand))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet === Set(realH, 999999999L),
      "both candidates must survive the sketch lookup")
    assert(est(999999999L) === 0L, s"phantom gram estimates 0: $est")
    assert(est(realH) >= 1L)
  }

  test("classifierScoreRow: rejects a weight table too large to ship " +
    "as a plan literal, naming the broadcast-join form") {
    val big = (0L until 65537L).map(b => b -> 1L).toMap
    val ex = intercept[IllegalArgumentException] {
      TextOps.classifierScoreRow(lit("some text"), big, nBuckets = 1 << 20)
    }
    assert(ex.getMessage.contains("classifierScore"), ex.getMessage)
    // the documented envelope still constructs fine
    TextOps.classifierScoreRow(lit("x"), Map(0L -> 1L), nBuckets = 16)
  }

  // ----- in-engine classifier training --------------------------------

  private val clsPos = (1L to 8L).map(i =>
    (i, s"excellent thoughtful prose number$i with careful analysis"))
  private val clsNeg = (1L to 8L).map(i =>
    (i, s"spam casino jackpot number$i click winner bonus"))

  test("classifierTrain: GD separates separable seed sets and the " +
    "trained model scores pos above neg through classifierScore") {
    val pos = clsPos.toDF("doc_id", "text")
    val neg = clsNeg.toDF("doc_id", "text")
    val w = TextOps.classifierTrain(pos, neg, "doc_id", "text",
      nBuckets = 64, iters = 3, lrDen = 64L)
    assert(w.count() === 64L, "complete bucket domain")
    val all = pos.withColumn("lbl", lit(1))
      .unionByName(neg.withColumn("lbl", lit(0)))
      // ids collide across sides by construction; scoring needs unique
      .withColumn("doc_id", col("doc_id") + col("lbl") * 100L)
    val scored = TextOps.classifierScore(all, "doc_id", "text", w,
      nBuckets = 64, scale = 1048576.0)
      .join(all.select(col("doc_id"), col("lbl")), Seq("doc_id"))
      .groupBy("lbl").agg(avg("w_sum").as("mw"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(scored(1) > scored(0),
      s"trained weights must rank pos above neg: $scored")
  }

  test("classifierTrain: zero rounds returns the zero table; training " +
    "is rerun-identical and invariant to input partitioning") {
    val pos = clsPos.toDF("doc_id", "text")
    val neg = clsNeg.toDF("doc_id", "text")
    val w0 = TextOps.classifierTrain(pos, neg, "doc_id", "text",
      nBuckets = 32, iters = 0)
    assert(w0.agg(sum(abs(col("w")))).collect()(0).getLong(0) === 0L)
    def run(p: org.apache.spark.sql.DataFrame) =
      TextOps.classifierTrain(p, neg, "doc_id", "text",
        nBuckets = 32, iters = 2, lrDen = 64L)
        .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
    val a = run(pos)
    val b = run(pos.repartition(7))
    assert(a === b, "weights must not depend on partitioning")
    assert(a === run(pos), "rerun must be identical")
  }

  test("classifierTrain plan: per-round weight join is broadcast") {
    val pos = clsPos.toDF("doc_id", "text")
    val neg = clsNeg.toDF("doc_id", "text")
    val w = TextOps.classifierTrain(pos, neg, "doc_id", "text",
      nBuckets = 32, iters = 1)
    // iters=1 leaves the final round's plan inspectable pre-checkpoint
    // only via re-derivation; assert on a fresh scoring join instead —
    // the table is 32 rows, it must broadcast
    val plan = TextOps.classifierScore(pos, "doc_id", "text", w,
      nBuckets = 32, scale = 1048576.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("classifierTrain: fused in-plan rounds (iters <= fuse max) are " +
    "bit-identical to the checkpointed loop (forced past the threshold) " +
    "— the r20 probe's equality pin, as a unit test") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.graftbridge.ListenerBridge
    val pos = clsPos.toDF("doc_id", "text")
    val neg = clsNeg.toDF("doc_id", "text")
    // the reference: one GD round at a time, each round's weights
    // collected to the driver before the next round starts
    val FP = 1L << 20
    val f = Seq(1, 0).map { y =>
      (if (y == 1) pos else neg)
        .select(col("doc_id").as("__r"),
          explode(split(lower(col("text")), " ")).as("__w"))
        .select(lit(y).as("y"), col("__r"),
          pmod(graft.operators.LlmOps.strHash(col("__w")), lit(32L))
            .as("bucket"))
        .distinct()
    }.reduce(_ unionByName _)
    val nd = f.groupBy(col("y"), col("__r")).agg(count(lit(1)).as("__n"))
    def oneRound(w: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val wDf = w.toDF("bucket", "w")
      val z = f.join(broadcast(wDf), Seq("bucket"))
        .groupBy(col("y"), col("__r")).agg(sum(col("w")).as("__zn"))
        .join(nd, Seq("y", "__r"))
      val p = greatest(lit(0.0), least(lit(1.0),
        lit(0.5) + col("__zn").cast("double") /
          (lit(4.0 * (1L << 20)) * col("__n"))))
      val err = z.select(col("y"), col("__r"),
        (round(p * FP, 0).cast("long") - col("y") * FP).as("__e"))
      val grad = f.join(err, Seq("y", "__r"))
        .groupBy(col("bucket")).agg(sum(col("__e")).as("__g"))
      wDf.join(grad, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("w") - expr("coalesce(__g, 0L) * 1 div 64")).as("w"))
        .orderBy("bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val reference = Iterator.iterate[Seq[(Long, Long)]](
        (0L until 32L).map(b => (b, 0L)))(oneRound)
      .take(10).toVector
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try for (iters <- 0 to 9) {
      ListenerBridge.drain(sc)
      jobs.set(0)
      val before = sc.getPersistentRDDs.keySet
      val w = TextOps.classifierTrain(pos, neg, "doc_id", "text",
        nBuckets = 32, iters = iters, lrDen = 64L)
      ListenerBridge.drain(sc)
      if (iters <= 4) {
        // one lazy chain: constructing it runs nothing and pins nothing
        assert(jobs.get() === 0, s"iters = $iters ran ${jobs.get()} jobs")
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
          s"iters = $iters pinned an RDD")
        val pins = w.queryExecution.optimizedPlan.collectLeaves().collect {
          case n: InMemoryRelation => n
          case n: LogicalRDD => n
        }
        assert(pins.isEmpty, s"iters = $iters reads pinned frames: $pins")
      }
      val got = w.orderBy("bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === reference(iters),
        s"iters = $iters must equal $iters one-at-a-time rounds")
    } finally sc.removeSparkListener(listener)
  }

  // ----- stupid-backoff trigram LM (LT28) ----------------------------

  private val sbCorpus = Seq(
    // the reference split: "a b c d e" x3 — every adjacent trigram of
    // the cycle is in the count tables
    (1L, "a b c d e a b c d e a b c d e", "ref"),
    (2L, "a b c d e", "web"),   // all trigrams seen: cost 0
    (3L, "b c e a b", "web"),   // one floor, one bigram backoff, one hit
    (4L, "z q x w v", "web"),   // every word unseen: pure smoothed floor
    (5L, "a b", "web"))         // < 3 words: no trigrams, drops
    .toDF("doc_id", "text", "source")

  private def sbRun(thresh: Int) =
    TextOps.lmStupidBackoff(sbCorpus, "doc_id", "text",
      trainPred = col("source") === "ref", threshBits = thresh)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("lmStupidBackoff: backoff levels order the docs — seen trigrams " +
    "cost 0 bits, bigram backoff sits between, the unseen floor is " +
    "worst; short docs drop") {
    val out = sbRun(2)
    assert(!out.contains(5L), "a 2-word doc has no trigrams")
    assert(out(2L).getLong(1) === 3L, "5 words -> 3 trigrams")
    assert(out(2L).getDouble(2) === 0.0,
      "all-seen trigrams: lg c3 - lg c2ctx = 0 for every gram")
    val bits = (d: Long) => out(d).getDouble(2)
    assert(bits(2L) < bits(3L) && bits(3L) < bits(4L),
      s"backoff depth must order the costs: ${bits(2L)}, ${bits(3L)}, ${bits(4L)}")
    assert(out(2L).getLong(3) === 1L && out(4L).getLong(3) === 0L,
      "the 2-bit gate keeps the fluent doc and drops the unseen-floor doc")
  }

  // ----- HyperLogLog distinct sketch (LT30) --------------------------

  test("hllDistinct: linear counting nails the small range, the raw " +
    "estimator lands within HLL error in the large range") {
    // small range: 40 distinct words, far below m = 1024
    val small = Seq((1L, (1 to 40).map(i => s"w$i").mkString(" "), "a"))
      .toDF("doc_id", "text", "source")
    val s = TextOps.hllDistinct(small, "text", "source")
      .collect()(0)
    assert(s.getLong(1) === 40L)
    assert(math.abs(s.getDouble(2) - 40.0) <= 3.0,
      s"linear counting should sit near 40: $s")
    // large range: 20k distinct words >> 2.5m -> raw regime
    val big = (0 until 40).map(d =>
      (d.toLong, (0 until 500).map(i => s"tok${d}_$i").mkString(" "), "b"))
      .toDF("doc_id", "text", "source")
    val b = TextOps.hllDistinct(big, "text", "source")
      .collect()(0)
    assert(b.getLong(1) === 20000L)
    assert(b.getDouble(2) === b.getDouble(3),
      "large range must report the raw estimator")
    assert(math.abs(b.getDouble(2) / 20000.0 - 1.0) <= 0.10,
      s"raw HLL should land within ~3 std errors of 20k: $b")
  }

  test("hllRegisters merge by max: sharded registers union to exactly " +
    "the whole-corpus registers") {
    val docs = (0 until 30).map(d =>
      (d.toLong, (0 until 100).map(i => s"m${d}_$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val whole = TextOps.hllRegisters(docs, "text", "source")
      .orderBy("j").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val h1 = TextOps.hllRegisters(docs.filter(col("doc_id") < 15),
      "text", "source")
    val h2 = TextOps.hllRegisters(docs.filter(col("doc_id") >= 15),
      "text", "source")
    val merged = h1.unionByName(h2)
      .groupBy("source", "j").agg(max("mj").as("mj"))
      .orderBy("j").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(merged === whole)
  }

  test("hll at production precision p=14: registers merge by max and " +
    "the estimate tightens vs p=10 on a 20k-distinct corpus") {
    val docs = (0 until 40).map(d =>
      (d.toLong, (0 until 500).map(i => s"q${d}_$i").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
    val whole = TextOps.hllRegisters(docs, "text", "source", p = 14)
      .orderBy("j").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val h1 = TextOps.hllRegisters(docs.filter(col("doc_id") < 20),
      "text", "source", p = 14)
    val h2 = TextOps.hllRegisters(docs.filter(col("doc_id") >= 20),
      "text", "source", p = 14)
    val merged = h1.unionByName(h2)
      .groupBy("source", "j").agg(max("mj").as("mj"))
      .orderBy("j").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(merged === whole)
    // 16k registers, ~0.8% standard error: at 20k distinct the p=14
    // estimate must land well inside p=10's ~3.2% band
    val e14 = TextOps.hllDistinct(docs, "text", "source", p = 14)
      .collect()(0)
    assert(e14.getLong(1) === 20000L)
    assert(math.abs(e14.getDouble(2) / 20000.0 - 1.0) <= 0.03,
      s"p=14 should be within ~3 std errors (2.4%) of 20k: $e14")
  }

  test("curriculumLayout: every doc lands exactly once, pos ascends by " +
    "(difficulty, id) within a band, and bands are monotone") {
    // 200 docs, difficulty with deliberate TIES (17 distinct values)
    val docs = (0 until 200).map(i =>
      (i.toLong, ((i * 37) % 17).toDouble)).toDF("doc_id", "bits")
    val out = TextOps.curriculumLayout(docs, "doc_id", "bits", nBands = 4)
      .join(docs, Seq("doc_id"))
      .select("doc_id", "shard", "pos", "bits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.map(_._1).distinct.length === 200, "every doc exactly once")
    val byBand = out.groupBy(_._2).toSeq.sortBy(_._1)
    assert(byBand.length === 4, "4 non-empty bands on a spread corpus")
    for ((_, rows) <- byBand) {
      val inPosOrder = rows.sortBy(_._3).map(r => (r._4, r._1))
      assert(inPosOrder === inPosOrder.sorted,
        "pos within a band must ascend by (difficulty, id)")
      assert(rows.map(_._3).sorted === (1L to rows.length).toSeq,
        "pos must be dense 1..n within the band")
    }
    for (Seq((b, lo), (_, hi)) <- byBand.sliding(2).toSeq) {
      assert(lo.map(_._4).max <= hi.map(_._4).min,
        s"band $b max difficulty must not exceed the next band's min")
    }
    // nBands = 1 degenerates to the oracle's exact global rank
    val one = TextOps.curriculumLayout(docs, "doc_id", "bits", nBands = 1)
      .orderBy("pos").collect().map(_.getLong(0)).toSeq
    val expect = docs.collect().map(r => (r.getDouble(1), r.getLong(0)))
      .sorted.map(_._2).toSeq
    assert(one === expect)
  }

  test("curriculumLayoutRange: equal-width bands split [min, max], " +
    "bands are monotone, within-band order is (difficulty, id)") {
    // difficulties 0..16 over 200 docs: range boundaries at 4, 8, 12
    val docs = (0 until 200).map(i =>
      (i.toLong, ((i * 37) % 17).toDouble)).toDF("doc_id", "bits")
    val out = TextOps.curriculumLayoutRange(docs, "doc_id", "bits",
        nBands = 4)
      .join(docs, Seq("doc_id"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("pos"), r.getAs[Double]("bits")))
    assert(out.map(_._1).distinct.length === 200)
    // exact band law: count of boundaries (4, 8, 12) strictly below
    for ((_, shard, _, bits) <- out) {
      val expectBand = Seq(4.0, 8.0, 12.0).count(bits > _)
      assert(shard === expectBand.toLong,
        s"bits=$bits must land in equal-width band $expectBand, got $shard")
    }
    val byBand = out.groupBy(_._2).toSeq.sortBy(_._1)
    for (Seq((b, lo), (_, hi)) <- byBand.sliding(2).toSeq)
      assert(lo.map(_._4).max <= hi.map(_._4).min, s"band $b not monotone")
    for ((_, rows) <- byBand) {
      val inPosOrder = rows.sortBy(_._3).map(r => (r._4, r._1))
      assert(inPosOrder === inPosOrder.sorted)
    }
  }

  test("lmStupidBackoff: integer fixed-point scores are partition-" +
    "invariant — 1 vs 8 partitions produce identical rows") {
    def rows(parts: Int) =
      TextOps.lmStupidBackoff(sbCorpus.repartition(parts), "doc_id",
        "text", trainPred = col("source") === "ref")
        .orderBy("doc_id").collect().toSeq
    assert(rows(1) === rows(8))
  }

  test("lmStupidBackoff: tag-union branch equals broadcast branch even " +
    "under DUPLICATE (and null) ids — the pivot keys on a per-row key, " +
    "so two rows sharing an id never collapse into one (id,pos) group") {
    // doc 7 appears TWICE with different texts; doc null once — under
    // the old (id, pos) pivot their positions would merge and n_grams/
    // scores would diverge from the broadcast branch (advice item)
    val dup = sbCorpus.unionByName(Seq(
      (7L, "a b c d e", "web"),
      (7L, "z q x w v y u", "web")).toDF("doc_id", "text", "source"))
      .unionByName(Seq((Option.empty[Long], "b c e a b c", "web"))
        .toDF("doc_id", "text", "source"))
    def run(maxRows: Long) =
      TextOps.lmStupidBackoffImpl(dup, "doc_id", "text",
        trainPred = col("source") === "ref", threshBits = 8,
        maxBroadcastRows = maxRows)
        .orderBy("doc_id").collect().toSeq
    val bcast = run(Long.MaxValue)
    val union = run(0L)
    assert(bcast === union,
      s"branches diverged:\nbroadcast=$bcast\ntag-union=$union")
    // and the duplicate id's grams sum across BOTH rows (3 + 5 trigrams)
    val d7 = bcast.find(r => !r.isNullAt(0) && r.getLong(0) == 7L).get
    assert(d7.getLong(1) === 8L, s"doc 7 must carry 3+5 trigrams: $d7")
  }

  // the name is split so that the variable, which no code reads any
  // more, appears nowhere in the sources; the printed name is unchanged
  test("lmStupidBackoff: malformed SPARK_GRAFT_LM_" + "BCAST_MAXROWS falls " +
    "back to the default instead of throwing (guarded parse)") {
    // the threshold is a constant, so no environment value can break
    // the call: the public entry is the constant-threshold gate
    val viaConstant = TextOps.lmStupidBackoffImpl(sbCorpus, "doc_id", "text",
      trainPred = col("source") === "ref", threshBits = 8,
      maxBroadcastRows = TextOps.BroadcastMaxRows)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(sbRun(8).nonEmpty)
    assert(sbRun(8) === viaConstant)
  }
}
