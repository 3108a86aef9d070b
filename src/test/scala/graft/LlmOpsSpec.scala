package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LlmOps, MultimodalOps, Ops, TextOps}

/** Unit sanity for the LLM-data operators on crafted corpora (the
  * sf-scale behavior is oracle-checked by the harness; these pin the
  * semantics on known inputs). */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

  private lazy val docs = Seq(
    (1L, base),
    (2L, base.replace("epsilon", "EPSILON")), // near-dup: 1 of 10 words differs (case-normalized away)
    (3L, base.replace("delta epsilon", "delta CHANGED")), // near-dup: one word changed
    (4L, "completely different words nothing shared here at all today friend")
  ).toDF("doc_id", "text")

  test("minhash: near-duplicates bucket together, unrelated docs do not") {
    val pairs = LlmOps.minHashCandidatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical after lowercasing
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      "one-word-changed doc should share a band with an original")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc must not be a candidate")
  }

  test("sourceOverlap: matrix counts candidates AND verified dups per " +
    "unordered source pair with exact possible-pair normalization") {
    // srcA: docs 1,2 (identical post-normalization); srcB: doc 3 (near-dup
    // of both); doc 4 unrelated in srcB — cross pairs (1,3),(2,3) land in
    // (srcA,srcB), pair (1,2) in (srcA,srcA), nothing pairs with 4.
    val labeled = docs.withColumn("source",
      when(col("doc_id") <= 2L, "srcA").otherwise("srcB"))
    val m = LlmOps.sourceOverlap(labeled, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7)))
      .toMap
    val within = m(("srcA", "srcA"))
    assert(within._1 === 1L && within._3 === 2L)
    assert(within._2 === 1L,
      "identical docs 1,2 verify as a true dup (jaccard 1.0)")
    assert(within._5 === 1.0, "1 pair of 1 possible within srcA")
    assert(within._6 === 1.0, "1 verified dup of 1 possible")
    val cross = m(("srcA", "srcB"))
    assert(cross._1 >= 1L && cross._1 <= 2L,
      s"doc 3 near-dups the srcA docs: $cross")
    assert(cross._2 === cross._1,
      s"one-word-changed doc verifies at jaccard ~0.64 >= 0.5: $cross")
    assert(cross._4 === 2L, "srcB doc count")
    assert(cross._5 === cross._1 / 4.0, "rate over 2*2 possible pairs")
    assert(!m.contains(("srcB", "srcB")), "doc 4 pairs with nothing")
  }

  test("simhash: identical (post-normalization) docs get identical codes") {
    val codes = LlmOps.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(1L) === codes(2L))
    assert(codes(1L) !== codes(4L))
    assert(codes.values.forall(c => c >= 0 && c < (1L << 16)))
  }

  test("simhash pairs: identical docs pair at hamming 0; banded search " +
    "honors the threshold") {
    val out = LlmOps.simHashPairs(docs, "doc_id", "text",
      maxHamming = 3, bits = 32, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L },
      "case-normalized duplicates must pair at distance 0")
    assert(out.forall(_._3 <= 3), "no pair past the Hamming threshold")
  }

  test("simhash wide codes (the corpus-scale knob): 56-bit wideTokenHash " +
    "codes still pair identical docs at 0 and use the high bits") {
    val out = LlmOps.simHashPairs(docs, "doc_id", "text",
      maxHamming = 3, bits = 56, bands = 4, wideTokenHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L },
      "identical docs must still pair at distance 0 under wide codes")
    // high bits must carry signal: with PolyHash they'd be constant
    // zero and every doc would share the top band's bucket
    val codes = LlmOps.simHash(docs, "doc_id", "text", bits = 56,
      wideTokenHash = true)
      .collect().map(_.getLong(1))
    assert(codes.exists(c => (c >>> 30) != 0L),
      s"wide codes must populate bits above 30: ${codes.mkString(",")}")
    // narrow PolyHash codes past 30 bits are rejected up front
    intercept[IllegalArgumentException](
      LlmOps.simHash(docs, "doc_id", "text", bits = 56))
  }

  test("jaccard: crafted 0.5 similarity computes exactly") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // 2-gram shingles: {ab,bc,cd} vs {ab,bc,ce} → inter 2, union 4
    val out = LlmOps.jaccardPairs(two, "doc_id", "text").collect()
    assert(out.length === 1)
    assert(out(0).getDouble(2) === 0.5)
  }

  test("cosine top-k: identical vector ranks first with cosine 1.0") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)), // same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal
      (3L, Array(1.0f, 1.0f, 0.0f, 0.0f))  // 45 degrees
    ).toDF("vec_id", "embedding")
    val out = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 0, k = 3)
      .orderBy(desc("cosine")).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 2L))
    assert(out(0).getDouble(2) === 1.0)
    assert(out(2).getDouble(2) === 0.0)
  }

  test("zero vectors are excluded from similarity scoring, not NaN-ranked " +
    "to the top") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: cosine undefined
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val full = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 0, k = 3).collect()
    assert(full.map(_.getLong(1)).toSet === Set(1L, 3L),
      s"zero vector must not appear as candidate: ${full.mkString(",")}")
    assert(full.forall(r => !r.getDouble(2).isNaN), "no NaN scores")
    val quant = LlmOps.quantizedTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 0, k = 3).collect()
    assert(quant.map(_.getLong(1)).toSet === Set(1L, 3L),
      s"zero vector must not appear in quantized top-k: ${quant.mkString(",")}")
    assert(quant.forall(r => !r.getDouble(2).isNaN), "no NaN quantized scores")
    // a zero-vector PROBE emits nothing rather than a NaN-ranked block
    val zp = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 2, k = 3).collect()
    assert(zp.isEmpty, "zero-vector probe must emit no rows")
  }

  test("lsh ann: parallel vectors share a bucket; probe scored only in-bucket") {
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(2.0f)),          // same direction → same sign pattern
      (2L, Array.fill(8)(-1.0f))          // opposite → different bucket
    ).toDF("vec_id", "embedding")
    val out = LlmOps.annTopKLsh(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, k = 5, planes = 4, dims = 8).collect()
    assert(out.map(_.getLong(1)).toSet === Set(1L), "only the co-bucketed vector is scored")
    assert(out(0).getDouble(3) === 1.0)
    // the scale knob: parallel vectors agree on EVERY hyperplane sign,
    // so raising planes (more buckets) never separates true neighbors
    val wide = LlmOps.annTopKLsh(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, k = 5, planes = 16, dims = 8).collect()
    assert(wide.map(_.getLong(1)).toSet === Set(1L),
      "parallel vectors must stay co-bucketed at any plane count")
  }

  test("embedNearDupPairs: auto planes = bitlength(n-1) - 1, and true " +
    "duplicate pairs are identical at 8 / 16 / auto planes") {
    // the autoPlanes law itself, integer-exact at the edges
    assert(LlmOps.autoPlanes(0L) === 1)
    assert(LlmOps.autoPlanes(1L) === 1)
    assert(LlmOps.autoPlanes(2L) === 1)   // bin(1)="1" -> 0, clamped
    assert(LlmOps.autoPlanes(500L) === 8) // the pinned sf0.01 instance
    assert(LlmOps.autoPlanes(2000L) === 10)
    assert(LlmOps.autoPlanes(200000L) === 17)
    assert(LlmOps.autoPlanes(Long.MaxValue) === 62)
    // duplicate-direction vectors agree on EVERY hyperplane sign, so
    // growing the bucket space never separates a true duplicate pair:
    // a fixture of 3 duplicate clusters + pseudo-random fillers yields
    // the same pairs at planes 8, 16, and auto (n=60 -> 5 planes).
    val rnd = new scala.util.Random(7)
    val dups = (0 until 3).flatMap { c =>
      val proto = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
      Seq((c * 2L, proto), (c * 2L + 1L, proto.map(_ * 1.5f)))
    }
    val fillers = (100 until 154).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val vecs = (dups ++ fillers).toDF("vec_id", "embedding")
    def pairs(planes: Int) = LlmOps.embedNearDupPairs(
        vecs, "vec_id", "embedding", threshold = 0.999,
        planes = planes, dims = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((0L, 1L), (2L, 3L), (4L, 5L))
    assert(pairs(8) === expected)
    assert(pairs(16) === expected)
    assert(pairs(0) === expected, "auto planes must find the same dups")
  }

  test("simHashPairsAuto: identical docs share the code at any width, " +
    "the two-lane wide code splits cleanly, widths cap at 60 bits") {
    val fillers = (10 until 40).map(i =>
      (i.toLong, s"filler$i unique${i * 7} words${i * 13} here$i"))
    val corpus = (Seq(
      (1L, "the exact same duplicated document text"),
      (2L, "the exact same duplicated document text")) ++ fillers)
      .toDF("doc_id", "text")
    // n=32 docs -> auto width 4 (16 buckets/band); identical texts give
    // identical codes, so the pair survives at hamming 0
    val auto = LlmOps.simHashPairsAuto(corpus, "doc_id", "text",
      maxHamming = 0).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(auto.contains((1L, 2L)))
    // the wide code agrees with itself across widths on duplicates:
    // lane-1 bits (33+) engage past 32 and stay deterministic
    for (bits <- Seq(32, 48, 60)) {
      val codes = LlmOps.simHashWide(
          corpus.filter(col("doc_id") <= 2), "doc_id", "text", bits)
        .collect().map(_.getLong(1)).toSeq
      assert(codes.distinct.size === 1,
        s"duplicate docs must share the $bits-bit code")
    }
    val e = intercept[IllegalArgumentException](
      LlmOps.simHashWide(corpus, "doc_id", "text", 61))
    assert(e.getMessage.contains("60"))
  }

  test("stableBandWidth: largest divisor of 60 under the bitlength " +
    "law — bands = 60/w stay >= 4, so maxHamming <= 3 is pigeonhole-" +
    "exact at every corpus size") {
    assert(LlmOps.stableBandWidth(1L) === 4)
    assert(LlmOps.stableBandWidth(32L) === 4)     // p=4
    assert(LlmOps.stableBandWidth(500L) === 6)    // p=8 -> divisor 6
    assert(LlmOps.stableBandWidth(5000L) === 12)  // p=12
    assert(LlmOps.stableBandWidth(50000L) === 15) // p=15 (clamp)
    assert(LlmOps.stableBandWidth(Long.MaxValue) === 15)
    Seq(1L, 500L, 5000L, 50000L).foreach { n =>
      assert(60 % LlmOps.stableBandWidth(n) === 0 &&
        60 / LlmOps.stableBandWidth(n) >= 4)
    }
  }

  test("simHashPairsAuto r14: the near-dup predicate is corpus-" +
    "independent — the same pair reports the same 60-bit hamming in a " +
    "small corpus and in a 16x superset (only the search width moves)") {
    val dup = Seq(
      (1L, "the exact same duplicated document text"),
      (2L, "the exact same duplicated document text"))
    val small = (dup ++ (10 until 40).map(i =>
      (i.toLong, s"filler$i unique${i * 7} words${i * 13} here$i")))
      .toDF("doc_id", "text")
    val big = (dup ++ (10 until 522).map(i =>
      (i.toLong, s"filler$i unique${i * 7} words${i * 13} here$i")))
      .toDF("doc_id", "text")
    def ham(df: org.apache.spark.sql.DataFrame) =
      LlmOps.simHashPairsAuto(df, "doc_id", "text", maxHamming = 3)
        .filter(col("doc_a") === 1 && col("doc_b") === 2)
        .collect().map(_.getLong(2)).toSeq
    val (hs, hb) = (ham(small), ham(big))
    assert(hs === Seq(0L) && hb === Seq(0L),
      s"the duplicate pair must survive at both sizes: $hs vs $hb")
    // and maxHamming past the exactness bound fails loud
    val e = intercept[IllegalArgumentException](
      LlmOps.simHashPairsAuto(small, "doc_id", "text", maxHamming = 4))
    assert(e.getMessage.contains("maxHamming"))
  }

  test("embedNearDupPairs r14: the banded search finds a SUPERSET of " +
    "the single-table pairs over the same code (any-band-agrees vs " +
    "all-planes-agree), with every candidate still cosine-verified") {
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 60).map { i =>
      val base = Array.fill(16)(rnd.nextFloat() * 2f - 1f)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    // n=60 -> autoPlanes 5 per band, 4 bands = the same 20-bit code
    // lshBucket(e, 20) computes for the single-table explicit form
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = collect(LlmOps.embedNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.5, planes = 20, dims = 16))
    val banded = collect(LlmOps.embedNearDupPairs(
      vecs, "vec_id", "embedding", threshold = 0.5, dims = 16))
    assert(single.subsetOf(banded),
      s"banding may only ADD recall: ${single -- banded} lost")
  }

  test("embedNearDupPairs: the coded-vector persist is RELEASED once " +
    "the consuming action lands — repeated calls in a long session " +
    "must not accumulate pinned RDDs (r15 verdict item)") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 2f - 1f))
    }.toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    (1 to 3).foreach { _ =>
      LlmOps.embedNearDupPairs(
        vecs, "vec_id", "embedding", threshold = 0.9, dims = 8).count()
    }
    // the release listener fires asynchronously on the execution bus
    val deadline = System.nanoTime() + 15_000_000_000L
    def now() = sc.getPersistentRDDs.size
    while (now() > before && System.nanoTime() < deadline) Thread.sleep(100)
    assert(now() <= before,
      s"pinned RDDs accumulated: before=$before after=${now()}")
  }

  test("sizing-count reuse: a supplied n keeps the auto operators " +
    "fully lazy — no eager count() pass over the upstream") {
    // a detonating upstream: ANY job that evaluates it throws, so an
    // eager count() inside the operator would fail construction. The
    // bombs sit above an RDD-backed frame (LogicalRDD), which
    // ConvertToLocalRelation can never fold: plan COMPILATION (which
    // persist()/localCheckpoint trigger, and which constant-evaluates
    // projections/filters over a LocalRelation — a test-fixture
    // artifact, not an upstream scan) must stay legal; only a real
    // executor pass may detonate
    def rddBacked(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(df.rdd, df.schema)
    val boom = udf((s: String) =>
      { if (s != null) sys.error("eager upstream scan"); s })
    val docs = rddBacked(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
      .withColumn("text", boom(col("text")))
    val p1 = LlmOps.simHashPairsAuto(docs, "doc_id", "text",
      maxHamming = 0, n = 500L) // no throw = no count
    val pay = docs.withColumn("payload",
      graft.operators.MultimodalOps.withPayload(col("text")))
    val p3 = graft.operators.MultimodalOps.payloadNearDupPairs(
      pay, "doc_id", "payload", n = 500L)
    // the bombs are real: forcing either detonates
    Seq(p1, p3).foreach { p =>
      intercept[Exception](p.collect())
    }
    // embedNearDupPairs is the DELIBERATE exception since r17 (r16
    // verdict): it materializes its persisted coded vectors at CALL
    // time (one pass — the same pass the first consuming action would
    // have paid) so the a/b self-join sides read a fully-populated
    // cache instead of racing to fill it. A supplied n still skips the
    // SIZING count — the construction pass below is the materialize,
    // not a second count — so the bomb detonates at construction.
    val vecs = rddBacked(Seq((1L, Array(1.0f, 0.0f)))
        .toDF("vec_id", "embedding"))
      .withColumn("embedding",
        udf((a: Seq[Float]) => { sys.error("eager scan"): Seq[Float] })
          .apply(col("embedding")))
    intercept[Exception] {
      LlmOps.embedNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.5, dims = 2, n = 500L)
    }
  }

  test("payloadFingerprint / payloadNearDupPairs: identical payloads " +
    "share the 60-bit code, a trailing edit stays within hamming 3, " +
    "empty payloads drop, and the planted pair is found") {
    import graft.operators.MultimodalOps
    val base = (1 to 40).map(i => s"word${i * 7} chunk${i * 13}")
      .mkString(" ") // ~500 bytes of varied structure
    val docs = Seq(
      (1L, base),
      (2L, base),                  // identical payload
      (3L, base + " tail"),        // trailing edit: near-dup
      (4L, ""),                    // empty: dropped
      (5L, (1 to 40).map(i => s"zzz${i * 31} q${i * 3}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    val codes = MultimodalOps.payloadFingerprint(docs, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!codes.contains(4L), "empty payloads carry no fingerprint")
    assert(codes(1L) === codes(2L), "identical payloads share the code")
    assert(java.lang.Long.bitCount(codes(1L) ^ codes(3L)) <= 3,
      "a trailing edit must stay within the banded threshold")
    val pairs = MultimodalOps.payloadNearDupPairs(docs, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((2L, 3L)), s"planted near-dups missing from $pairs")
  }

  test("payloadIncrementalNearDup: new-batch payloads within hamming 3 " +
    "of ANY historical payload drop; fresh and empty-payload rows keep " +
    "all columns") {
    import graft.operators.MultimodalOps
    val base = (1 to 40).map(i => s"word${i * 7} chunk${i * 13}")
      .mkString(" ")
    val hist = Seq((100L, base), (101L, "some other archive doc " * 20))
      .toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    val fresh = Seq(
      (1L, base),                // exact repeat of history: drop
      (2L, base + " tail"),      // near-dup of history: drop
      (3L, (1 to 40).map(i => s"zzz${i * 31} q${i * 3}").mkString(" ")),
      (4L, ""))                  // empty payload: always kept
      .toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    val kept = MultimodalOps.payloadIncrementalNearDup(
      fresh, hist, "doc_id", "payload")
    assert(kept.columns.toSeq == fresh.columns.toSeq,
      "incremental dedup must pass the batch schema through")
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 4L))
  }

  test("crossModalDupGroups: text-only near-dups, payload-only " +
    "near-dups, and chains across modalities collapse into one " +
    "component; isolated docs stay their own canonical") {
    import graft.operators.MultimodalOps
    val txt = (1 to 40).map(i => s"word${i * 7} chunk${i * 13}")
      .mkString(" ")
    val other = (1 to 40).map(i => s"zzz${i * 31} q${i * 3}").mkString(" ")
    // media rides a SEPARATE column so modalities can disagree. Media
    // strings are VARIED (not periodic repeats — the block-mean
    // fingerprint correctly codes periodic byte streams as
    // near-identical, which would weld every doc together).
    val m1 = (1 to 40).map(i => s"ALPHA${i * 11}K${i % 5}").mkString(" ")
    val m2 = (1 to 40).map(i => s"beta${i * 13}r${i % 9}").mkString(" ")
    val m4 = (1 to 40).map(i => s"~~!!${i * 29}??${i % 11}").mkString(" ")
    val docs = Seq(
      // doc_id, text (text modality), media (payload modality)
      (1L, txt, m1),
      (2L, txt, m2),            // text-dup of 1, media unrelated to 1
      (3L, other, m2 + " tail"), // payload-near-dup of 2, text unrelated
      (4L, (1 to 40).map(i => s"iso${i * 19} w${i % 17}").mkString(" "), m4))
      .toDF("doc_id", "text", "media")
      .withColumn("payload", MultimodalOps.withPayload(col("media")))
    val groups = MultimodalOps.crossModalDupGroups(
      docs, "doc_id", "text", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L,
      s"the text edge 1-2 and payload edge 2-3 must chain: $groups")
    assert(groups(4L) == 4L, s"isolated doc must stay its own canonical: $groups")
  }

  test("PayloadCode (native) is bit-identical to the hex-rendering " +
    "payloadFingerprint oracle twin, and stays inside WholeStageCodegen") {
    import graft.operators.MultimodalOps
    // adversarial sizes and shapes: < 1 cell, cell-boundary-straddling,
    // < 240 bytes (not all 60 blocks fed), exactly 240, not divisible
    // by 4, well past one fold (block re-fold at i >= 240), all-equal
    // bytes (no bit ever set), high-bit bytes (signed-byte trap), and
    // a trailing edit of a large payload
    val big = (1 to 300).map(i => s"w${i * 7}x${i % 13}").mkString(" ")
    val payloads = Seq(
      1L -> "a", 2L -> "abc", 3L -> "abcd", 4L -> "abcde",
      5L -> "x" * 240, 6L -> "y" * 241, 7L -> big, 8L -> (big + "!"),
      9L -> new String(Array.tabulate(997)(i => (128 + i % 128).toChar)),
      10L -> (1 to 59).map(i => s"block$i").mkString("|"))
    val df = payloads.toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    val hex = MultimodalOps.payloadFingerprint(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = df.select(col("doc_id"),
      MultimodalOps.payloadCode(col("payload")).as("pcode"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    payloads.foreach { case (id, _) =>
      assert(native(id) === hex(id),
        s"doc $id: native ${native(id).toBinaryString} != " +
          s"hex ${hex(id).toBinaryString}")
    }
    // empty payload: the native form codes to 0 (callers filter, as the
    // near-dup path does); the hex form drops the row
    val empty = Seq(0L -> "").toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    assert(empty.select(MultimodalOps.payloadCode(col("payload")))
      .head().getLong(0) === 0L)
    // production shape: the fingerprint is one codegen'd scan pass
    // (range input — a LocalRelation would constant-fold the check away)
    val plan = spark.range(10)
      .select(MultimodalOps.payloadCode(
        encode(concat(lit("p"), col("id")), "UTF-8")).as("pcode"))
      .filter(col("pcode") >= 0)
      .queryExecution.executedPlan.toString
    val hits = plan.linesIterator.filter(_.contains("graft_payload_code")).toSeq
    assert(hits.nonEmpty && hits.forall(_.contains("*(")),
      s"payload code outside codegen:\n$plan")
  }

  test("pq adc: codes snap to the nearest sub-centroid, identical and " +
    "code-identical candidates score 1.0, zero vectors excluded") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // seed c0
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)), // seed c1
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // identical to 0
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // near 0: same codes as 0
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f)), // near 1: orthogonal recon
      (5L, Array(0.0f, 0.0f, 0.0f, 0.0f))  // zero: excluded
    ).toDF("vec_id", "embedding")
    val out = LlmOps.annTopKPq(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, k = 5, m = 2, ksub = 2, dims = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    // 2 and 3 both reconstruct to c0 exactly → ADC cosine 1.0; 1 and 4
    // reconstruct to c1 → 0.0; the zero vector never appears
    assert(out.map(_._1).toSeq === Seq(2L, 3L, 1L, 4L),
      s"ADC ranking (ties by cand id): ${out.mkString(",")}")
    assert(out(0)._2 === 1.0 && out(1)._2 === 1.0)
    assert(out(2)._2 === 0.0 && out(3)._2 === 0.0)
    // candidates carry m code lookups, not d-dim float loops: the
    // probe side (with its dot table) is the broadcast side
    val plan = LlmOps.annTopKPq(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, k = 5, m = 2, ksub = 2, dims = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("ivf x pq: the cell restriction bounds the ADC scan to the " +
    "probe's inverted list") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // seed: cell 0 + sub-codebooks
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)), // seed: cell 1 + sub-codebooks
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // cell 0, codes = c0
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)), // cell 0, codes = c0
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f))  // cell 1 — outside probe 0's list
    ).toDF("vec_id", "embedding")
    val out = LlmOps.annTopKIvfPq(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, topK = 5, kCells = 2, iters = 0, nprobe = 1,
      m = 2, ksub = 2, dims = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // cell 1's vectors (1, 4) never reach the scorer; cell-mates 2 and 3
    // both reconstruct to c0 → ADC cosine exactly 1.0
    assert(out.map(_._1).toSet === Set(2L, 3L),
      s"only probe 0's cell-mates are scored: ${out.mkString(",")}")
    assert(out.forall(_._2 === 0L), "served from cell 0")
    assert(out.forall(_._3 === 1.0))
  }

  test("pq rerank: a coarse pool covering the corpus restores the EXACT " +
    "cosine ranking that raw ADC collapses into ties") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f)),  // identical to probe
      (3L, Array(0.9f, 0.1f, 0.1f, 0.9f)),  // near: ADC ties it with 2
      (4L, Array(0.1f, 0.9f, 0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val exact = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 0, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val rr = LlmOps.pqRerankTopK(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, k = 4, coarseK = 4, m = 2, ksub = 2, dims = 4)
      .orderBy(col("cosine").desc, col("cand_id"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(rr === exact.sortBy(p => (-p._2, p._1)),
      s"full-coverage rerank must equal exact: $rr vs $exact")
    // raw ADC scored 2 and 3 both 1.0 (same codes); the rerank
    // separates them at true precision
    assert(rr.find(_._1 == 2L).get._2 === 1.0)
    assert(rr.find(_._1 == 3L).get._2 < 1.0)
  }

  test("trained pq codebooks: per-subspace k-means converges to cluster " +
    "means, cutting reconstruction error to ~0 on clustered data") {
    // subvectors cluster tightly around two directions per subspace;
    // the two seeds start OFF-center, one round of means lands on the
    // cluster centroids and the quantization error collapses
    val a = Array(1.0f, 0.0f); val b = Array(0.0f, 1.0f)
    def v(c1: Array[Float], d1: Float, c2: Array[Float], d2: Float) =
      Array(c1(0) + d1, c1(1) + d1, c2(0) + d2, c2(1) + d2)
    val vecs = (Seq(
      (0L, v(a, 0.05f, a, 0.05f)),  // seeds (off the cluster centers)
      (1L, v(b, -0.05f, b, -0.05f))) ++
      (2L to 9L).map(i => (i,
        if (i % 2 == 0) v(a, 0.0f, a, 0.0f) else v(b, 0.0f, b, 0.0f))))
      .toDF("vec_id", "embedding")
    def meanErr(ti: Int): Double =
      LlmOps.pqReconReport(vecs, "vec_id", "embedding",
        m = 2, ksub = 2, dims = 4, trainIters = ti)
        .agg(avg("rel_err")).collect()(0).getDouble(0)
    val seeded = meanErr(0)
    val trained = meanErr(2)
    assert(trained < seeded,
      s"training must reduce its own objective: $seeded -> $trained")
    assert(trained < 0.01,
      s"means of tight clusters reconstruct nearly exactly: $trained")
    // deterministic: rerun-identical
    assert(meanErr(2) === trained)
  }

  test("residual ivf x pq: a vector that IS centroid + codebook " +
    "residual reconstructs exactly and scores the exact cosine where " +
    "plain PQ saturates to its centroid") {
    // power-of-two fractions: every residual arithmetic step is exact,
    // so recon(v4) == v4 bitwise and the ADC cosine equals the true one
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),       // cell-0 centroid
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),       // cell-1 centroid
      (2L, Array(1.25f, 0.125f, 0.125f, 1.25f)), // residual seed (cell 0)
      (3L, Array(0.125f, 1.25f, 1.25f, 0.125f)), // residual seed (cell 1)
      (4L, Array(1.125f, 0.25f, 0.25f, 1.125f))  // = v0 + residual(v3)
    ).toDF("vec_id", "embedding")
    def run(res: Boolean) = LlmOps.annTopKIvfPq(vecs, "vec_id", "embedding",
      probeFilter = _ === 0, topK = 3, kCells = 2, iters = 0, nprobe = 1,
      m = 2, ksub = 2, dims = 4, residual = res)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    val exact = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") === 0, k = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val resOut = run(res = true)
    val plainOut = run(res = false)
    assert(resOut(4L) === exact(4L),
      s"exact-reconstruction candidate must score the true cosine: " +
        s"res=$resOut exact=$exact")
    assert(plainOut(4L) === 1.0,
      s"plain PQ snaps v4 to the centroid and over-scores: $plainOut")
    assert(resOut(4L) < 1.0)
  }

  test("semantic dedup: in-cell near-dups drop deterministically; " +
    "cluster minima, distinct neighbors, and only nonzero vectors survive") {
    val vecs = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (1L, Array(0f, 1.0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0.01f, 0f, 0f, 0f, 0f, 0f, 0f)), // ~parallel to 0
      (3L, Array(0f, 1.0f, 0.01f, 0f, 0f, 0f, 0f, 0f)), // ~parallel to 1
      (4L, Array(0f, 0.9f, 0.5f, 0f, 0f, 0f, 0f, 0f)),  // cell-mate of 1, cos < τ
      (5L, Array.fill(8)(0.0f))                          // zero vector: excluded
    ).toDF("vec_id", "embedding")
    val out = LlmOps.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, k = 2, iters = 1, dims = 8).collect()
    val kept = out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept === Map(0L -> true, 1L -> true, 2L -> false, 3L -> false, 4L -> true))
    val cells = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells(0L) === cells(2L) && cells(1L) === cells(3L) && cells(3L) === cells(4L))
    assert(cells(0L) !== cells(1L), "the two seed directions stay separate cells")
    assert(out.filter(r => r.getLong(0) <= 1L).forall(_.isNullAt(2)),
      "cluster-min ids have no smaller-id cell-mate, so best_sim is null")
  }

  test("ivf ann: k-means training moves the codebook and holds recall@3 " +
    "against the brute-force baseline") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probe: Long => org.apache.spark.sql.Column = _ => col("vec_id") < 20
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "cand_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(LlmOps.cosineTopK(
      vecs, "vec_id", "embedding", col("vec_id") < 20, k = 3))
    val seed = pairs(LlmOps.annTopKIvf(
      vecs, "vec_id", "embedding", _ < 20, topK = 3, k = 8, iters = 0))
    val trained = pairs(LlmOps.annTopKIvf(
      vecs, "vec_id", "embedding", _ < 20, topK = 3, k = 8, iters = 2))
    def recall(got: Set[(Long, Long)]) =
      got.intersect(truth).size.toDouble / truth.size
    info(f"recall@3: seed=${recall(seed)}%.3f trained=${recall(trained)}%.3f")
    // training must actually move the codebook off the seed vectors
    val seedCents = LlmOps.kmeansCentroids(vecs, "vec_id", "embedding", 8, 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val trainedCents = LlmOps.kmeansCentroids(vecs, "vec_id", "embedding", 8, 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(trainedCents.keySet === seedCents.keySet)
    assert(seedCents.exists { case (cid, ce) => trainedCents(cid) != ce },
      "trained centroids must differ from the seed vectors")
    // a coarse 8-cell partition of 500 random vectors keeps meaningful
    // recall; trained cells must not be materially worse than seeds
    assert(recall(trained) >= 0.2, s"trained recall ${recall(trained)}")
    assert(recall(trained) >= recall(seed) - 0.15,
      "training must not collapse recall vs the seed codebook")
    // the nprobe knob: searching 2 cells can only ADD candidate pairs,
    // so recall is monotone in nprobe (toward brute force at nprobe=k)
    val probe2 = pairs(LlmOps.annTopKIvf(
      vecs, "vec_id", "embedding", _ < 20, topK = 3, k = 8, iters = 0, nprobe = 2))
    info(f"recall@3: nprobe2=${recall(probe2)}%.3f")
    assert(recall(probe2) >= recall(seed),
      "nprobe=2 recall must not drop below nprobe=1")
  }

  /** [[LlmOps.dedupGroups]] with the driver finish switched off: the
    * propagation loop runs until no label changes. */
  private def dedupGroupsLoop(ids: DataFrame, pairs: DataFrame,
      maxIters: Int = 25): DataFrame =
    LlmOps.dedupGroupsObserved(ids, "doc_id", pairs, maxIters,
      driverMaxEdges = -1L)(_ => ()).labels

  test("dedup groups: the driver finish labels exactly as the round loop " +
    "on chains, stars, cycles and isolated nodes, Long and String ids") {
    val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "chain" -> (1L until 40L).map(i => (i + 1, i)),
      "star" -> (2L to 30L).map(i => (17L, i)),
      "cycle" -> ((50L until 60L).map(i => (i, i + 1)) :+ (60L -> 50L)),
      "mixed" -> (Seq((9L, 3L), (3L, 7L), (70L, 71L), (5L, 5L)) ++
        (80L until 90L).map(i => (i, 80L))))
    for ((shape, edges) <- graphs) {
      val ids = (1L to 100L).toDF("doc_id")
      val pairs = edges.toDF("doc_a", "doc_b")
      def run(df: DataFrame) =
        df.collect().map(r => r.get(0) -> r.get(1)).toMap
      val driver = LlmOps.dedupGroupsObserved(ids, "doc_id", pairs, 25)(_ => ())
      assert(driver.driverFinished, shape)
      val loop = run(dedupGroupsLoop(ids, pairs))
      assert(run(driver.labels) === loop, s"$shape (Long ids)")
      assert(loop.size === 100 && loop(100L) === 100L, s"$shape: isolated node")
      // String ids order as strings: "10" < "9", so labels move
      val sIds = ids.select(col("doc_id").cast("string").as("doc_id"))
      val sPairs = pairs.select(col("doc_a").cast("string").as("doc_a"),
        col("doc_b").cast("string").as("doc_b"))
      val sLoop = run(dedupGroupsLoop(sIds, sPairs))
      assert(run(LlmOps.dedupGroups(sIds, "doc_id", sPairs)) === sLoop,
        s"$shape (String ids)")
    }
  }

  test("dedup groups: a loop whose contracted graph fits finishes on the " +
    "driver with the loop's labels") {
    val ids = (1L to 300L).toDF("doc_id")
    val pairs = ((2L to 200L).map(i => (i, i - 1)) ++
      (250L until 300L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    def labels(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rounds = scala.collection.mutable.ArrayBuffer.empty[LlmOps.CcRound]
    val loop = labels(LlmOps.dedupGroupsObserved(ids, "doc_id", pairs, 25,
      driverMaxEdges = -1L)(rounds += _).labels)
    // the smallest non-empty contracted graph the loop passed through
    val bound = rounds.map(_.contracted).filter(_ > 0L).min
    val run = LlmOps.dedupGroupsObserved(ids, "doc_id", pairs, 25,
      driverMaxEdges = bound)(_ => ())
    assert(run.driverFinished, rounds.mkString(", "))
    assert(labels(run.labels) === loop)
    assert((1L to 200L).forall(loop(_) == 1L) && (250L to 300L).forall(loop(_) == 250L))
  }

  test("dedup groups: min-label propagation finds component minima") {
    val ids = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = LlmOps.dedupGroups(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("dedup keep-best: clusters canonicalize to the highest-scoring member, " +
    "ties break on the lower id") {
    val docs = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9), // cluster {1,2,3}: best = 2 (tie 2 vs 3)
      (4L, 0.5),                       // isolated: its own canonical
      (5L, 0.1), (6L, 0.8)             // cluster {5,6}: best = 6
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val out = LlmOps.dedupGroupsKeepBest(docs, "doc_id", "quality", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 6L, 6L -> 6L))
  }

  test("dedup keep-best labeled-frame overload: reusing an existing " +
    "dedupGroups labeling is identical to the recompute path") {
    val docs = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9),
      (4L, 0.5),
      (5L, 0.1), (6L, 0.8)
    ).toDF("doc_id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    // pipeline path: CC once, labels reused for keep-best re-pointing
    val labeled = LlmOps.dedupGroups(docs.select("doc_id"), "doc_id", pairs)
    val reused = LlmOps.dedupGroupsKeepBest(labeled, docs, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute path: the convenience overload that runs CC itself
    val recomputed = LlmOps.dedupGroupsKeepBest(docs, "doc_id", "quality", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reused === recomputed,
      "labeled-frame overload must re-point identically to the recompute path")
    assert(reused === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 4L, 5L -> 6L, 6L -> 6L))
  }

  test("iterative operators release superseded checkpoint blocks") {
    val sc = spark.sparkContext
    // run body, return (result, #persistent RDDs it left behind)
    def pinnedBy[A](body: => A): (A, Int) = {
      val before = sc.getPersistentRDDs.keySet
      val r = body
      (r, (sc.getPersistentRDDs.keySet -- before).size)
    }
    // a 100-node chain forces ~log2(100) pointer-jumping rounds — each
    // one checkpoints, so an unpersist regression shows up as ~7 pinned
    // RDDs instead of the single final-round checkpoint
    val ids = (1L to 120L).toDF("doc_id")
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, pinnedCc) = pinnedBy {
      dedupGroupsLoop(ids, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert((1L to 100L).forall(labels(_) == 1L), "chain collapses to min id")
    assert((101L to 120L).forall(i => labels(i) == i))
    assert(pinnedCc <= 1,
      s"dedupGroups left $pinnedCc checkpoint RDDs pinned (max 1: the final round)")

    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (_, pinnedKm) = pinnedBy {
      LlmOps.kmeansCentroids(vecs, "vec_id", "embedding", 8, 3).collect()
    }
    assert(pinnedKm <= 1,
      s"kmeansCentroids left $pinnedKm RDDs pinned (max 1: the final round)")

    // bpeTrain returns merges, not a frame: every round pin is released
    val corpus = Seq((1L, "lower lowest newer newest wider widest"),
      (2L, "low lower new newer wide wider")).toDF("doc_id", "text")
    val (merges, pinnedBpe) = pinnedBy {
      TextOps.bpeTrain(corpus, "text", nMerges = 4)
    }
    assert(merges.size === 4)
    assert(pinnedBpe === 0, s"bpeTrain left $pinnedBpe RDDs pinned (max 0)")
    // iters past 4 pin every 4-round block but the last: 5 pins one
    // block, 9 pins two and must release the first
    val pos = (1L to 8L).map(i => (i, s"careful prose number$i")).toDF("doc_id", "text")
    val neg = (1L to 8L).map(i => (i, s"casino jackpot number$i")).toDF("doc_id", "text")
    for (iters <- Seq(5, 9)) {
      val (_, pinnedCls) = pinnedBy {
        TextOps.classifierTrain(pos, neg, "doc_id", "text",
          nBuckets = 16, iters = iters).collect()
      }
      assert(pinnedCls <= 1, s"classifierTrain(iters = $iters) left " +
        s"$pinnedCls RDDs pinned (max 1: the last pinned block)")
    }
  }

  test("dedupGroups labels report their measured size, not an estimate " +
    "that grows with every self-joining round") {
    // the 100-node chain above: ~7 rounds, each joining the labels with
    // themselves — Spark's carried-over estimate multiplies per round
    val ids = (1L to 120L).toDF("doc_id")
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = dedupGroupsLoop(ids, pairs)
    val sizes = labels.queryExecution.optimizedPlan.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.stats.sizeInBytes
    }
    info(s"LogicalRDD sizeInBytes: ${sizes.mkString(", ")}")
    assert(sizes.nonEmpty, "the labels are read from the final round's checkpoint")
    assert(sizes.forall(_ <= BigInt(1 << 20)),
      s"checkpoint leaves report ${sizes.mkString(", ")} bytes (max 1 MB)")
  }

  test("dedupGroups never touches the caller session's planning config; " +
    "the failure path releases its checkpoint blocks too") {
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    val ids = (1L to 10L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    dedupGroupsLoop(ids, pairs).collect()
    // the loop plans in a PRIVATE child session — shared-session conf is
    // process-global and a concurrent query must never see the override
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    // non-convergence abort: conf still untouched AND no pinned blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalStateException](
      dedupGroupsLoop(ids, pairs, maxIters = 0).collect())
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"failed run left RDDs pinned: $leaked")
  }

  test("record index: partition-offset indexing matches the global order") {
    val df = spark.range(1000).toDF("v").repartition(7)
    val out = Ops.withRecordIndex("idx", Seq(col("v").desc))(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.foreach { case (v, idx) => assert(idx === 999 - v) }
  }

  test("fingerprints: whitespace-normalized duplicates collapse to one fp") {
    val d = Seq((1L, "Hello  World"), (2L, "  hello world "), (3L, "bye")).toDF("doc_id", "text")
    val out = TextOps.fingerprints(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val fp = out.map(t => t._1 -> t._2).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
    assert(out.filter(_._1 <= 2).forall(_._3 === 2))
  }

  test("lang id: stopword-bearing texts classify; empty overlap yields 'und'") {
    val d = Seq(
      (1L, "the cat is in the house and it was warm"),
      (2L, "der hund ist nicht mit der katze zu hause"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("duckRegexLit: shared Java/RE2 subset enforced, quotes escaped") {
    import graft.queries.TextQueries.duckRegexLit
    assert(duckRegexLit("[a-z]+@[a-z.]+") === "'[a-z]+@[a-z.]+'")
    assert(duckRegexLit("it's") === "'it''s'")
    // the shipped patterns themselves must stay inside the subset
    duckRegexLit(graft.operators.TextOps.EmailRe)
    duckRegexLit(graft.operators.TextOps.PhoneRe)
    Seq("(?=x)y", "(?<!a)b", "a(?>bc)", """(\w)\1""", "ab?+", "x{2,3}+")
      .foreach { bad =>
        intercept[IllegalArgumentException](duckRegexLit(bad))
      }
  }

  test("stratified sampling: per-stratum rates hold, deterministic across runs") {
    val d = (1L to 600L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def run() = TextOps.stratifiedSample(
      d, "doc_id", col("lang"), Map("en" -> 1.0, "de" -> 0.0))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val kept = run()
    assert(kept === run(), "hash sampling must be reproducible")
    assert(kept.forall(_._2 == "en"), "rate 0.0 stratum fully dropped")
    assert(kept.size === 200, "rate 1.0 stratum fully kept")
    val half = TextOps.stratifiedSample(
      d, "doc_id", col("lang"), Map.empty, defaultRate = 0.5).count()
    assert(half > 600 * 0.35 && half < 600 * 0.65,
      s"50% sample over 600 docs landed at $half")
    // a NULL stratum falls under defaultRate instead of silently
    // vanishing through a null hash
    val withNulls = (1L to 100L)
      .map(i => (i, if (i % 2 == 0) "en" else null)).toDF("doc_id", "lang")
    val keptNull = TextOps.stratifiedSample(
      withNulls, "doc_id", col("lang"), Map("en" -> 0.0), defaultRate = 1.0)
      .collect().map(_.getLong(0))
    assert(keptNull.length === 50 && keptNull.forall(_ % 2 == 1),
      "all 50 null-stratum docs kept at defaultRate=1.0, all en dropped")
  }

  test("sequence packing: offset binning per shard with a deterministic order") {
    val d = Seq(
      (1L, "x", "a b c"),        // 3 tokens, offset 0  → seq 0
      (2L, "x", "a b c d"),      // 4 tokens, offset 3  → seq 0
      (3L, "x", "a b c d e"),    // 5 tokens, offset 7  → seq 1
      (4L, "x", "a b"),          // 2 tokens, offset 12 → seq 2
      (5L, "y", "a b c d e f g") // other shard restarts at offset 0
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.packSequences(d, "doc_id", "text", budget = 6L, col("lang"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) === (("x", 3L, 0L)))
    assert(out(2L) === (("x", 4L, 0L)))
    assert(out(3L) === (("x", 5L, 1L)))
    assert(out(4L) === (("x", 2L, 2L)))
    assert(out(5L) === (("y", 7L, 0L)))
  }

  test("multimodal: payload is real BinaryType; stub decode is deterministic per byte content") {
    val d = Seq((1L, "hello"), (2L, "hello"), (3L, "other")).toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    assert(d.schema("payload").dataType.typeName === "binary")
    val frames = MultimodalOps.decodeFramesStub(d, "doc_id", "payload")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val byId = frames.map(f => f._1 -> f).toMap
    assert(byId(1L)._4 === byId(2L)._4, "same bytes → same signature")
    assert(byId(1L)._4 !== byId(3L)._4)
    assert(frames.forall(f => f._2 >= 64 && f._3 >= 64))
  }

  test("multimodal frame sampling: strided indices, bounded by the frame count, " +
    "short payloads dedup") {
    // "abcde" → 5 bytes → 1 + 5%16 = 6 frames; k=4 → floor(j*6/4) = 0,1,3,4
    // "ab" → 2 bytes → 3 frames; k=4 → 0,0,1,2 → dedup to 0,1,2
    val d = Seq((1L, "abcde"), (2L, "ab")).toDF("doc_id", "text")
    val out = MultimodalOps.frameSample(
      d, "doc_id", MultimodalOps.withPayload(col("text")), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).map(_._3).sorted.toSeq === Seq(0L, 1L, 3L, 4L))
    assert(byDoc(1L).head._2 === 6L)
    assert(byDoc(2L).map(_._3).sorted.toSeq === Seq(0L, 1L, 2L))
    assert(out.forall { case (_, n, i) => i >= 0 && i < n })
  }

  test("multimodal resize stub: target dims pass through, signature folds " +
    "payload with target box deterministically") {
    val d = Seq((1L, "hello"), (2L, "hello"), (3L, "other")).toDF("doc_id", "text")
      .withColumn("payload", MultimodalOps.withPayload(col("text")))
    val a = MultimodalOps.resizeFramesStub(d, "doc_id", "payload", 224, 224)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    assert(a(1L)._3 === 224 && a(1L)._4 === 224)
    assert(a(1L)._5 === a(2L)._5, "same bytes + same box → same signature")
    assert(a(1L)._5 !== a(3L)._5)
    val b = MultimodalOps.resizeFramesStub(d, "doc_id", "payload", 64, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(b(1L) !== a(1L)._5, "different target box → different signature")
  }

  test("incrementalDedup: bloom prefilter + exact verify equals a plain " +
    "anti join, including under a deliberately terrible fpp") {
    // deterministic "random" fingerprints via a multiplicative hash
    def fp(i: Long): Long = i * 2654435761L
    val hist = (0L until 1000L).map(fp).toDF("fp")
    // new batch: 100 known dups + 400 unseen fingerprints
    val newB = ((0L until 100L) ++ (5000L until 5400L)).map(i => (i, fp(i)))
      .toDF("batch_id", "fp")
    val expected = (5000L until 5400L).toSet
    val kept = LlmOps.incrementalDedup(newB, hist, "fp")
      .collect().map(_.getLong(0)).toSet
    assert(kept === expected)
    // fpp=0.5 floods the verify path with false positives; output is
    // still EXACT because the bloom only prunes, the anti join decides
    val keptNoisy = LlmOps.incrementalDedup(newB, hist, "fp", fpp = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(keptNoisy === expected)
    // schema passes through: batch columns, original order
    assert(LlmOps.incrementalDedup(newB, hist, "fp").columns.toSeq
      === Seq("batch_id", "fp"))
  }

  test("incrementalDedup: an empty historical corpus keeps the whole batch") {
    val hist = Seq.empty[Long].toDF("fp")
    val newB = Seq((1L, 10L), (2L, 20L)).toDF("batch_id", "fp")
    val kept = LlmOps.incrementalDedup(newB, hist, "fp")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L))
  }

  test("incrementalDedup probe is the native might_contain inside " +
    "WholeStageCodegen, not an interpreted UDF") {
    // range-based inputs: ConvertToLocalRelation would fold a filter
    // over a literal local relation clean out of the plan
    val hist = spark.range(100).select((col("id") * 7L).as("fp"))
    val newB = spark.range(50)
      .select(col("id").as("batch_id"), (col("id") * 3L).as("fp"))
    val out = LlmOps.incrementalDedup(newB, hist, "fp")
    out.collect() // run it: AQE stamps codegen stages only on the final plan
    val finalPlan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(finalPlan.contains("might_contain"),
      s"probe must be the native BloomFilterMightContain:\n$finalPlan")
    assert(!finalPlan.contains("UDF"),
      s"no interpreted UDF may remain on the probe path:\n$finalPlan")
    // the probing Filter must sit under a codegen stage: every Filter
    // node in the final plan carries a codegen-stage star
    val filterLines = finalPlan.linesIterator
      .filter(_.contains("Filter")).toSeq
    assert(filterLines.nonEmpty && filterLines.forall(_.contains("*(")),
      s"probe filters must be codegen'd:\n${filterLines.mkString("\n")}")
  }

  test("quantizeInt8: scale/rounding/saturation on known vectors; " +
    "zero vector quantizes to zeros") {
    val vecs = Seq(
      (1L, Seq(1.0f, -2.0f)),      // mx=2, scale=63.5 → q = (64, -127)
      (2L, Seq(0.0f, 0.0f)),       // zero vector → scale 0, all-zero q
      (3L, Seq(0.5f, 0.5f, -0.5f)) // all at max → everything saturates
    ).toDF("vec_id", "embedding")
    val out = LlmOps.quantizeInt8(vecs, "vec_id", col("embedding"))
      .orderBy("vec_id").collect()
    val q1 = out(0).getSeq[Long](1)
    assert(q1 === Seq(64L, -127L)) // round(63.5) half-away → 64
    assert(out(0).getLong(4) === 191L)  // q_l1
    assert(out(0).getLong(5) === 64L)   // q_max
    assert(out(0).getLong(6) === -127L) // q_min
    assert(out(0).getLong(7) === 1L)    // n_sat: only the -2.0 component
    assert(out(1).getSeq[Long](1) === Seq(0L, 0L))
    assert(out(1).getDouble(2) === 0.0) // max_abs
    assert(out(2).getSeq[Long](1) === Seq(127L, 127L, -127L))
    assert(out(2).getLong(7) === 3L)
    // shuffle-free: per-row transform fused with the scan
    val plan = LlmOps.quantizeInt8(vecs, "vec_id", col("embedding"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quantization must not shuffle:\n$plan")
  }

  test("minHashEstimatePairs: identical docs estimate 1.0 with exact 1.0; " +
    "estimates ride alongside true jaccard for candidates") {
    val out = LlmOps.minHashEstimatePairs(docs, "doc_id", "text")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (m12, est12, j12) = out((1L, 2L)) // identical after lowercasing
    assert(m12 === 8L && est12 === 1.0 && j12 === 1.0)
    // the near-dup pair carries a sub-1.0 exact jaccard next to its estimate
    out.get((1L, 3L)).foreach { case (m, est, j) =>
      assert(j > 0.5 && j < 1.0)
      assert(est === m / 8.0)
    }
    assert(!out.keySet.exists(p => p._1 === 4L || p._2 === 4L),
      "the unrelated doc must not appear in any candidate pair")
  }

  test("quantizedTopK: k rows per probe, high recall vs full-precision " +
    "cosine, self never a candidate") {
    val vecs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quant = LlmOps.quantizedTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(quant.groupBy(_._1).forall(_._2.length === 5))
    assert(!quant.exists(p => p._1 === p._2))
    // int8 keeps ~7 bits of direction: the top-5 sets should mostly agree
    val recall = full.toSet.intersect(quant.toSet).size.toDouble / full.length
    assert(recall >= 0.8, s"quantized recall@5 vs full precision: $recall")
  }

  test("quantizedRerankTopK: exact rerank of the coarse pool repairs " +
    "quantization error — recall >= plain quantized, exact scores") {
    val vecs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 5))
    val quant = pairs(LlmOps.quantizedTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 5))
    val rerank = LlmOps.quantizedRerankTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 5, coarseK = 20)
    val rerankPairs = pairs(rerank)
    val qRecall = full.intersect(quant).size.toDouble / full.size
    val rRecall = full.intersect(rerankPairs).size.toDouble / full.size
    assert(rRecall >= qRecall,
      s"rerank recall $rRecall must be >= coarse-only recall $qRecall")
    assert(rRecall >= 0.9, s"rerank recall@5 vs full precision: $rRecall")
    // reranked scores are EXACT cosines: every surviving pair's score
    // equals the brute-force value
    val exact = LlmOps.cosineTopK(vecs, "vec_id", "embedding",
      probeFilter = col("vec_id") < 10, k = 2000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    rerank.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact(key) === r.getDouble(2),
        s"reranked score for $key must be the exact cosine")
    }
    intercept[IllegalArgumentException](
      LlmOps.quantizedRerankTopK(vecs, "vec_id", "embedding",
        probeFilter = col("vec_id") < 10, k = 5, coarseK = 3))
  }

  test("sparseCosinePairs: identical docs hit sim 1.0, partial overlap " +
    "scores in (0,1), df-1 terms are pruned") {
    val a = "alpha beta gamma delta epsilon zeta"
    val c = "alpha beta gamma delta quebec romeo"
    val corpus = (Seq((1L, a), (2L, a), (3L, c)) ++
      // filler docs with unique shingles (df=1 → pruned from the index)
      (10L until 47L).map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e")))
      .toDF("doc_id", "text")
    val out = TextOps.sparseCosinePairs(corpus, "doc_id", "text",
      n = 3, minDf = 2L, maxDfFrac = 0.5, minSim = 0.35)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 2L)) === 1.0)
    // A∩C share 2 of A's 4 shingles (df=3) vs A's 2 private ones (df=2):
    // sim = 2·333333² / sqrt((2·333333²+2·500000²)·2·333333²)
    assert(out((1L, 3L)) > 0.5 && out((1L, 3L)) < 0.6)
    assert(out((2L, 3L)) === out((1L, 3L)))
    assert(out.size === 3, "filler docs must contribute no pairs")
  }

  test("shingleTf: per-row kernel (doc, term, tf) equals the composed " +
    "shingleHashes + groupBy form bit for bit (r20 — the tf shuffle " +
    "the kernel deletes)") {
    val rng = new scala.util.Random(20260819L)
    val vocab = Seq("the", "of", "ünï", "😀x", "a", "bb", "", "ccc")
    val docs = (1L to 40L).map { i =>
      (i, (Seq.fill(rng.nextInt(30))(vocab(rng.nextInt(vocab.size)))
        :+ "end").mkString(" "))
    }.toDF("doc_id", "text")
    (1 to 3).foreach { n =>
      val kernel = LlmOps.shingleTf(docs, "doc_id", "text", n)
        .orderBy("doc_id", "term").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val composed = LlmOps.shingleHashes(docs, "doc_id", "text", n,
          dedup = false)
        .groupBy(col("doc_id"), col("h").as("term"))
        .agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "term").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(kernel === composed, s"n=$n")
    }
  }

  test("annTopKIvfQuantized: same cells and mostly the same neighbors as " +
    "the full-precision IVF path") {
    val vecs = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = LlmOps.annTopKIvf(vecs, "vec_id", "embedding",
      probeFilter = _ < 10, topK = 3, k = 8, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val quant = LlmOps.annTopKIvfQuantized(vecs, "vec_id", "embedding",
      probeFilter = _ < 10, topK = 3, k = 8, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(quant.groupBy(_._1).keySet === full.groupBy(_._1).keySet,
      "both paths must answer for the same probes")
    val recall = full.toSet.intersect(quant.toSet).size.toDouble / full.length
    assert(recall >= 0.7, s"quantized IVF recall@3 vs full precision: $recall")
  }

  test("sampleToBudget: oversubscribed strata sample near the token " +
    "budget, under-budget strata keep everything, reruns are identical") {
    val text20 = Seq.fill(20)("w").mkString(" ")
    val corpus = ((0L until 200L).map(i => (i, "big", text20)) ++
      (1000L until 1005L).map(i => (i, "small", "a b c d e f g h i j")))
      .toDF("doc_id", "stratum", "text")
    val out = TextOps.sampleToBudget(corpus, "doc_id", "text",
      col("stratum"), budgetTokens = 1000L)
    val small = out.filter($"stratum" === "small").collect()
    assert(small.length === 5, "a stratum under budget keeps every doc")
    assert(small.forall(_.getLong(3) === 10000L)) // rate_e4 capped at 1.0
    // big: 4000 tokens, budget 1000 → rate 0.25; scrambled buckets keep
    // the realized share near the target
    val bigTokens = out.filter($"stratum" === "big")
      .agg(sum("n_tokens")).collect()(0).getLong(0)
    assert(bigTokens >= 600 && bigTokens <= 1400,
      s"kept $bigTokens tokens against a 1000 budget")
    val rerun = TextOps.sampleToBudget(corpus, "doc_id", "text",
      col("stratum"), budgetTokens = 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(rerun === out.collect().map(_.getLong(0)).toSet)
  }

  test("adaptiveFilter: each stratum prunes against its OWN quantile, " +
    "interpolated threshold, boundary rows kept") {
    val df = Seq(
      // stratum "short": scores 1..4 → p25 = 1.75, keeps 2,3,4
      ("short", 1L), ("short", 2L), ("short", 3L), ("short", 4L),
      // stratum "long": scores 100..400 → p25 = 175, keeps 200,300,400
      ("long", 100L), ("long", 200L), ("long", 300L), ("long", 400L))
      .toDF("stratum", "score")
    val kept = TextOps.adaptiveFilter(df, "score", $"stratum", 0.25)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(kept === Set(("short", 2L), ("short", 3L), ("short", 4L),
      ("long", 200L), ("long", 300L), ("long", 400L)),
      s"per-stratum quartile must prune independently: $kept")
    // exact-boundary score survives (>= threshold)
    val tie = Seq(("s", 10L), ("s", 10L), ("s", 10L), ("s", 10L))
      .toDF("stratum", "score")
    assert(TextOps.adaptiveFilter(tie, "score", $"stratum", 0.25)
      .count() === 4, "scores equal to the threshold are kept")
    intercept[IllegalArgumentException](
      TextOps.adaptiveFilter(df, "score", $"stratum", 1.5))
    // null strata form their own group with their own threshold
    // (null-safe join-back) instead of being silently dropped
    val withNull = Seq(
      (Option("a"), 1L), (Option("a"), 2L), (Option("a"), 3L), (Option("a"), 4L),
      (Option.empty[String], 10L), (Option.empty[String], 20L),
      (Option.empty[String], 30L), (Option.empty[String], 40L))
      .toDF("stratum", "score")
    val keptN = TextOps.adaptiveFilter(withNull, "score", $"stratum", 0.25)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(keptN === Set(
      (Some("a"), 2L), (Some("a"), 3L), (Some("a"), 4L),
      (None, 20L), (None, 30L), (None, 40L)),
      s"null stratum must filter against its own quantile: $keptN")
  }

  test("holdoutSplit: exhaustive assignment near the recipe shares, " +
    "growth never moves an existing doc, salts are independent") {
    val fr = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val small = (0L until 400L).toDF("doc_id")
    val splitSmall = TextOps.holdoutSplit(small, "doc_id", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitSmall.size === 400, "every doc gets exactly one split")
    val trainShare = splitSmall.values.count(_ == "train") / 400.0
    assert(trainShare > 0.85 && trainShare < 0.95,
      s"train share $trainShare should track 0.9")
    assert(splitSmall.values.toSet === Set("train", "val", "test"))
    // growth stability: tripling the corpus leaves old assignments alone
    val grown = (0L until 1200L).toDF("doc_id")
    val splitGrown = TextOps.holdoutSplit(grown, "doc_id", fr)
      .filter($"doc_id" < 400).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitGrown === splitSmall,
      "growing the corpus must never move an existing doc across splits")
    // a different salt reshuffles: some doc lands elsewhere
    val other = TextOps.holdoutSplit(small, "doc_id", fr, salt = "exp2")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(other.exists { case (k, v) => splitSmall(k) != v },
      "distinct salts must give independent splits")
    intercept[IllegalArgumentException](
      TextOps.holdoutSplit(small, "doc_id", Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("epochShuffle: reruns and repartitioned inputs reproduce the epoch " +
    "bit-identically, shards are contiguous key ranges, salts give " +
    "independent permutations, and packing composes in shuffled order") {
    val docs = (0L until 300L).toDF("doc_id")
    def run(df: org.apache.spark.sql.DataFrame, salt: String) =
      TextOps.epochShuffle(df, "doc_id", salt, nShards = 8)
        .select("doc_id", "shuffle_key", "shard", "pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._3, t._4))
    val e1 = run(docs, "epoch1")
    // rerun identity + partitioning independence
    assert(run(docs, "epoch1").toSeq === e1.toSeq)
    assert(run(docs.repartition(7), "epoch1").toSeq === e1.toSeq,
      "input partitioning must not change the epoch order")
    // every doc appears exactly once; pos is a dense 1-based rank per shard
    assert(e1.map(_._1).sorted.toSeq === (0L until 300L).toSeq)
    e1.groupBy(_._3).foreach { case (shard, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq,
        s"shard $shard pos must be dense 1..n")
      // within a shard, pos order IS (key, id) order
      assert(rows.sortBy(_._4).map(t => (t._2, t._1)).toSeq ===
        rows.map(t => (t._2, t._1)).sortBy(identity).toSeq)
    }
    // shards are contiguous key ranges: max key of shard s < min of s+1
    val byShard = e1.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    byShard.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(byShard(a).max < byShard(b).min,
        s"shard $a key range must precede shard $b")
      case _ => ()
    }
    // a different salt permutes: the global order differs
    val e2 = run(docs, "epoch2")
    assert(e2.map(_._1).sorted.toSeq === (0L until 300L).toSeq)
    assert(e1.map(_._1).toSeq !== e2.map(_._1).toSeq,
      "distinct salts must give distinct epoch orders")
    // composition with packSequences: pack in shuffled (shard, pos) order
    val shuffled = TextOps.epochShuffle(
      docs.withColumn("text", concat_ws(" ",
        lit("tok"), lit("tok"), lit("tok"))), "doc_id", "epoch1", nShards = 8)
    val packed = TextOps.packSequences(
      shuffled, "pos", "text", budget = 9L, shardCol = col("shard"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(3)))
    // 3 tokens/doc, budget 9 → 3 docs per sequence, in pos order per shard
    packed.groupBy(_._1).foreach { case (_, rows) =>
      rows.sortBy(_._2).zipWithIndex.foreach { case ((_, pos, seqNo), i) =>
        assert(pos === i + 1L)
        assert(seqNo === i / 3,
          s"doc at pos $pos must land in sequence ${i / 3}, got $seqNo")
      }
    }
  }

  test("temperatureMix: tau=2 upweights the low-resource stratum vs " +
    "proportional tau=1, over-budget strata keep everything, " +
    "membership is deterministic") {
    val big = Seq.tabulate(20)(i =>
      (i.toLong, "big", Seq.fill(100)("w").mkString(" ")))
    val small = Seq((100L, "small", Seq.fill(10)("t").mkString(" ")))
    val df = (big ++ small).toDF("doc_id", "lang", "text")
    def rates(tau: Double) = TextOps.temperatureMix(
      df, "doc_id", "text", col("lang"), budgetTokens = 600L, temperature = tau)
      .select("stratum", "rate_e4").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t1 = rates(1.0)  // proportional: both strata at B/N = 600/2010
    val t2 = rates(2.0)  // sqrt-weighted: small stratum upweighted
    // tau=1 is proportional: one uniform rate (the small stratum's lone
    // doc may hash out of the sample entirely — only compare if present)
    t1.get("small").foreach(s => assert(s === t1("big"),
      s"tau=1 is proportional: $t1"))
    assert(t2("small") > t1.getOrElse("small", t2("big")),
      s"tau=2 must upweight the low-resource stratum: t1=$t1 t2=$t2")
    assert(t2("small") === 10000L,
      s"small stratum's sqrt share exceeds its own tokens -> keep all: $t2")
    assert(t2("big") < t1("big"), s"budget shifts away from the big stratum: $t2")
    // determinism: the kept id set is identical across runs
    val k1 = TextOps.temperatureMix(df, "doc_id", "text", col("lang"), 600L, 2.0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val k2 = TextOps.temperatureMix(df, "doc_id", "text", col("lang"), 600L, 2.0)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(k1 === k2 && k1.nonEmpty)
  }

  test("incrementalNearDedup: a verbatim repeat of history is dropped, " +
    "low-Jaccard overlap survives even when it band-collides, " +
    "unrelated docs survive untouched") {
    val histText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hist = Seq(
      (1L, histText),
      (2L, "totally separate historical content nothing shared here at all"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (10L, histText),                                  // exact repeat → drop
      (11L, "alpha beta unrelated tail words only here"), // j << 0.5 → keep
      (12L, "completely novel new-batch document"))       // no overlap → keep
      .toDF("doc_id", "text")
    val kept = LlmOps.incrementalNearDedup(
      fresh, hist, "doc_id", "text", n = 2, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(11L, 12L), s"only the verbatim repeat drops")
    // empty history: everything survives
    val keptAll = LlmOps.incrementalNearDedup(
      fresh, hist.limit(0), "doc_id", "text", n = 2, minJaccard = 0.5)
      .count()
    assert(keptAll === 3L)
  }

  test("decontaminationReport: verbatim-embedding doc is contaminated, " +
    "incidental-overlap doc is a candidate but below containment, " +
    "zero-overlap doc is no candidate at all") {
    val evalQ = "what is the capital city of the republic of france and why " +
      "does it matter for the history of europe in the modern era"
    val bench = Seq((100L, evalQ)).toDF("bid", "btext")
    val corpus = Seq(
      (1L, s"intro words before $evalQ and some closing remarks after"),
      // engineered stage-1 candidate with only a SHORT borrowed phrase
      // (7 words → 5 shared 3-grams, enough for stage 1) diluted by a
      // long unique tail → winnow containment stays below the threshold
      (2L, "and why does it matter for the " +
        Seq.tabulate(40)(i => s"filler$i word$i").mkString(" ")),
      (3L, "completely unrelated document about cooking pasta properly"))
      .toDF("doc_id", "text")
    val rep = LlmOps.decontaminationReport(
      corpus, "doc_id", "text", bench, "bid", "btext",
      n = 3, minOverlapNgrams = 5, k = 8, w = 4, minContainment = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(!rep.contains(3L), "zero-overlap doc must not reach the report")
    assert(rep.contains(1L) && rep(1L)._3,
      s"verbatim embedding must be contaminated: $rep")
    assert(rep(1L)._2 > 0.2)
    assert(rep.contains(2L), s"5 shared 3-grams must reach stage 1: $rep")
    locally { val (o, c, flag) = rep(2L)
      assert(o === 5L, s"exactly the 5 borrowed-phrase shingles: $rep")
      assert(!flag && c < 0.2,
        s"diluted overlap must stay below containment threshold: $rep")
    }
    // the dropping wrapper keeps exactly the non-contaminated ids
    val kept = LlmOps.decontaminate(
      corpus, "doc_id", "text", bench, "bid", "btext",
      n = 3, minOverlapNgrams = 5, k = 8, w = 4, minContainment = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L, 3L))
  }

  test("bm25: higher tf scores higher, longer docs are penalized, " +
    "docs without query terms are absent") {
    val corpus = Seq(
      (1L, "data data data model brief"),             // tf-heavy, short
      (2L, "data padding " + Seq.fill(50)("x").mkString(" ")), // tf=1, long
      (3L, "data model brief"),                       // tf=1, short
      (4L, "nothing relevant here at all"))           // no query terms
      .toDF("doc_id", "text")
    val out = TextOps.bm25(corpus, "doc_id", "text", Seq("data", "model"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!out.contains(4L))
    assert(out(1L) > out(3L), "tf 3 must outscore tf 1 at similar length")
    assert(out(3L) > out(2L), "short doc must outscore long doc at equal tf")
    assert(out.values.forall(_ > 0.0))
  }
}
