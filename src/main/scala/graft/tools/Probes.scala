package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Pin
import graft.operators.{ImageOps, LlmOps, MultimodalOps, TextOps}

/** The probes `graft.tools.Probe <name> <sfDir> [args…]` runs. Each is a
  * short list of named stages on the `Probe` harness, plus the counts,
  * order-free checksums and `*equal` flags that pin its outputs. Inline
  * frames replicate production internals verbatim, so a stage measures
  * the real plan and the flags show when production and its twin drift
  * apart. Stage names are the keys of the committed `bench_r*` artifacts
  * without `_sec`. */
object Probes {
  type Body = (Probe, Seq[String]) => Unit

  val registry: ListMap[String, Body] = ListMap(
    "cc_iter" -> ccIter,
    "gopher_rep_stages" -> gopherRepStages,
    "tfidf_stages" -> tfidfStages,
    "classifier_train_stages" -> classifierTrainStages,
    "lm_gate_stages" -> lmGateStages,
    "curriculum_stages" -> curriculumStages,
    "multimodal_scale" -> multimodalScale,
    "plans" -> plans)

  private def longOr0(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }

  /** Connected components, pair build vs labeling: for the MinHash
    * graph (`llm_dedup_groups`) and the SimHash ∪ payload graph
    * (`llm_crossmodal_groups`), per arm `<arm>.pairs`, `<arm>.cc`
    * (`LlmOps.dedupGroups` over the pinned pairs with a 40-round cap, so
    * a trajectory past the production cap of 25 stays visible;
    * `<arm>.rounds` holds [seconds, labels changed, contracted-graph
    * directed edges] per loop round of its last run, and
    * `<arm>.driver_finish` whether union-find on the driver finished
    * it), `<arm>.cc_heap_mb` (`peak`: the heap in use over `<arm>.cc`,
    * as the sum of every heap pool's peak, an upper bound that in a
    * local session includes the tasks' memory; `local_relation`: the
    * rows the labels' local relation holds on the driver),
    * `<arm>.cc_tenth` (the same with the driver bound at a tenth of the
    * graph's directed edges, so the loop runs until its contracted graph
    * fits; `<arm>.tenth.{driver_finish, rounds}` as above, and
    * `<arm>.tenth.chk_equal` whether its labels equal `<arm>.cc`'s) and
    * `<arm>.prod_count` (production as callers run it; a run past its
    * 25-round cap is a recorded failure).
    * Latest artifact: `artifacts/cc_iter_sf10_crossmodal.json`.
    * args: [all|minhash|crossmodal] */
  private def ccIter(p: Probe, args: Seq[String]): Unit = {
    val armFilter = args.headOption.getOrElse("all")
    val docs = p.docs

    def chk(d: DataFrame): String = {
      val r = d.agg(count(lit(1)),
        sum(pmod(xxhash64(col("doc_id"), col("canonical_id")),
          lit(1000000007L)))).head()
      s"${r.getLong(0)}/${longOr0(r, 1)}"
    }

    def runArm(arm: String, mkPairs: () => DataFrame,
        prodLabels: () => DataFrame): Unit = {
      p.stage(s"$arm.pairs")(mkPairs())
      val pinned = Pin.checkpoint(mkPairs(), eager = true)
      val nPairs = p.value(s"$arm.n_pairs")(pinned.count()).getOrElse(0L)
      // stage `stage`: dedupGroups over the pinned pairs, and the rounds
      // of its last run
      def cc(stage: String, driverMaxEdges: Long) = {
        val rounds = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
        val run = p.action(stage) {
          rounds.clear()
          LlmOps.dedupGroupsObserved(docs.select("doc_id"), "doc_id",
            pinned, maxIters = 40, driverMaxEdges) { r =>
            rounds += Seq[Any](math.round(r.seconds * 1000).toDouble / 1000.0,
              r.changed, r.contracted)
          }
        }
        (run, rounds.toSeq)
      }
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      val (run, rounds) = cc(s"$arm.cc", TextOps.BroadcastMaxRows)
      val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum
      // the rows a driver finish's local relation holds
      val localBytes = run.fold(0L)(_.labels.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          org.apache.spark.util.SizeEstimator.estimate(l.data)
      }.sum)
      p.value(s"$arm.cc_heap_mb")(ListMap(
        "peak" -> (peakHeap >> 20), "local_relation" -> (localBytes >> 20)))
      p.value(s"$arm.converged")(run.isDefined)
      p.value(s"$arm.driver_finish")(run.exists(_.driverFinished))
      p.value(s"$arm.rounds")(rounds)
      val instChk = p.value(s"$arm.chk_inst")(
        run.fold("not_converged")(r => chk(r.labels)))
      // the mid-loop finish: the bound at a tenth of the directed edges
      // (two per pair), so rounds run until the contracted graph fits
      val (tenth, tenthRounds) = cc(s"$arm.cc_tenth", nPairs / 5)
      p.value(s"$arm.tenth.driver_finish")(tenth.exists(_.driverFinished))
      p.value(s"$arm.tenth.rounds")(tenthRounds)
      p.value(s"$arm.tenth.chk_equal")(
        tenth.exists(r => instChk.contains(chk(r.labels))))
      p.action(s"$arm.prod_count")(prodLabels().count())
      val prodChk = p.value(s"$arm.chk_prod")(chk(prodLabels()))
      p.value(s"$arm.chk_equal")(run.isDefined && instChk == prodChk)
      Pin.release(pinned)
    }

    if (armFilter == "all" || armFilter == "minhash")
      runArm("dedup_groups_minhash",
        () => LlmOps.minHashCandidatePairs(docs, "doc_id", "text")
          .select("doc_a", "doc_b"),
        () => LlmOps.dedupGroups(docs.select("doc_id"), "doc_id",
          LlmOps.minHashCandidatePairs(docs, "doc_id", "text")))
    val withPayload = docs.withColumn("payload",
      MultimodalOps.withPayload(col("text")))
    if (armFilter == "all" || armFilter == "crossmodal")
      runArm("crossmodal_union",
        () => LlmOps.simHashPairsAuto(withPayload, "doc_id", "text",
          maxHamming = 3, n = p.nDocs).select("doc_a", "doc_b")
          .unionByName(MultimodalOps.payloadNearDupPairs(
            withPayload, "doc_id", "payload", 3, p.nDocs)
            .select("doc_a", "doc_b")),
        () => MultimodalOps.crossModalDupGroups(withPayload, "doc_id", "text",
          "payload"))
  }

  /** `TextOps.gopherRepetition` by stage: `words` (posexplode to word
    * rows), `led` (+ the 18 `lead` columns over the per-doc window;
    * `led − words` is the window sort and shuffle), `counts` (through
    * the (doc, n, gram) counts), `relational_e2e` (the pre-r20
    * relational form end to end), `prod_noop` and `prod_count`.
    * Latest artifact: `bench_r20_gopher_rep_stages_sf10.json`. */
  private def gopherRepStages(p: Probe, args: Seq[String]): Unit = {
    val docs = p.docs
    val ns = (2 to 10).toSeq
    val maxN = 10
    def mkWords = docs
      .select(col("doc_id"), length(col("text")).cast("long").as("__chars"),
        posexplode(LlmOps.words(col("text"))).as(Seq("__pos", "__w")))
      .select(col("doc_id"), col("__chars"), col("__pos"),
        LlmOps.strHash(col("__w")).as("__wh"),
        length(col("__w")).cast("long").as("__wl"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("__pos"))
    val leadCols = (1 until maxN).flatMap(k => Seq(
      lead(col("__wh"), k).over(win).as(s"__h$k"),
      lead(col("__wl"), k).over(win).as(s"__l$k")))
    def mkLed = mkWords.select(
      Seq(col("doc_id"), col("__chars"), col("__wh"), col("__wl")) ++
        leadCols: _*)
    def ghash(n: Int): Column = (1 until n).foldLeft(col("__wh"))(
      (acc, k) => (acc * 31L + col(s"__h$k")) % LlmOps.HashP)
    def glen(n: Int): Column = (1 until n).foldLeft(col("__wl"))(
      (acc, k) => acc + col(s"__l$k")) + lit((n - 1).toLong)
    val gramArr = array(ns.map { n =>
      when(col(s"__h${n - 1}").isNotNull,
        struct(lit(n).as("n"), ghash(n).as("h"), glen(n).as("l")))
    }: _*)
    def mkCounts = mkLed
      .select(col("doc_id"), col("__chars"),
        explode(filter(gramArr, x => x.isNotNull)).as("__g"))
      .select(col("doc_id"), col("__chars"), col("__g.n").as("__n"),
        col("__g.h").as("__h"), col("__g.l").as("__l0"))
      .groupBy(col("doc_id"), col("__chars"), col("__n"), col("__h"))
      .agg(count(lit(1)).as("__c"), max(col("__l0")).as("__l"))

    // the full relational twin (the pre-r20 shape)
    val topThresholds = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
    val dupThresholds = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
      9 -> 0.11, 10 -> 0.10)
    def mkRelational: DataFrame = {
      val base = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("__chars"))
      val cov = col("__c") * col("__l")
      val perN = mkCounts
        .groupBy(col("doc_id"), col("__chars"), col("__n"))
        .agg(max(cov).as("__top"),
          sum(when(col("__c") >= 2, cov)).as("__dup"))
      val aggs: Seq[Column] =
        topThresholds.keys.toSeq.sorted.map(n =>
          coalesce(max(when(col("__n") === n, col("__top"))), lit(0L))
            .as(s"__top_$n")) ++
          dupThresholds.keys.toSeq.sorted.map(n =>
            coalesce(max(when(col("__n") === n, col("__dup"))), lit(0L))
              .as(s"__dup_$n"))
      val perDoc = perN.groupBy(col("doc_id"), col("__chars"))
        .agg(aggs.head, aggs.tail: _*)
      val chars = col("__chars").cast("double")
      val fracs =
        topThresholds.keys.toSeq.sorted.map(n =>
          (s"top_${n}gram_frac", s"__top_$n", topThresholds(n))) ++
          dupThresholds.keys.toSeq.sorted.map(n =>
            (s"dup_${n}gram_frac", s"__dup_$n", dupThresholds(n)))
      val keep = fracs.map { case (_, c, th) => col(c) / chars <= th }
        .reduce(_ && _)
      def renderedFrac(c: String): Column =
        when(col("__chars") > 0,
          expr(s"CAST((2000000 * $c + __chars) DIV (2 * __chars) AS DOUBLE)")
            / lit(1e6))
          .otherwise(round(col(c) / chars, 6))
      base.select(col("doc_id"), col("__chars"))
        .join(perDoc.drop("__chars"), Seq("doc_id"), "left")
        .na.fill(0L, (2 to 10).flatMap(n => Seq(s"__top_$n", s"__dup_$n"))
          .filter(perDoc.columns.contains))
        .select(col("doc_id") +:
          fracs.map { case (name, c, _) => renderedFrac(c).as(name) } :+
          coalesce(keep, lit(false)).as("keep"): _*)
    }
    def prod = TextOps.gopherRepetition(docs, "doc_id", "text")

    p.stage("words")(mkWords)
    p.stage("led")(mkLed)
    p.stage("counts")(mkCounts)
    p.stage("relational_e2e")(mkRelational)
    p.stage("prod_noop")(prod)
    p.action("prod_count")(prod.count())

    // count, Σkeep, Σ over the 9 fraction columns of round(frac·1e6)
    val fracCols = Seq("top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
      "dup_5gram_frac", "dup_6gram_frac", "dup_7gram_frac",
      "dup_8gram_frac", "dup_9gram_frac", "dup_10gram_frac")
    def chk(d: DataFrame): String = {
      val fsum = fracCols.map(c => round(col(c) * 1e6).cast("long"))
        .reduce(_ + _)
      val r = d.agg(count(lit(1)), sum(col("keep").cast("long")),
        sum(fsum)).head()
      s"${r.getLong(0)}/${r.getLong(1)}/${longOr0(r, 2)}"
    }
    val prodChk = p.value("prod_chk")(chk(prod))
    val relationalChk = p.value("relational_chk")(chk(mkRelational))
    p.value("chk_equal")(prodChk.isDefined && prodChk == relationalChk)
  }

  /** The candidate-scoring join of `TextOps.sparseCosinePairs`, over a
    * pinned weight frame: `tf` (shingles + (doc, term) agg), `wt` (the
    * banded integer-idf weights), `dots_onelevel` / `dots_twolevel` (the
    * term self-join, one aggregation vs a term-salted two-level one),
    * `score_onelevel` / `score_twolevel` / `score_bcast_norms` (dots +
    * both norm joins + the sim filter), `prod_noop` and `prod_count`.
    * Latest artifact: `bench_r20_tfidf_stages_sf10.json`.
    * args: [salts=32] [minSim=0.35] */
  private def tfidfStages(p: Probe, args: Seq[String]): Unit = {
    val salts = args.lift(0).fold(32)(_.toInt)
    val minSim = args.lift(1).fold(0.35)(_.toDouble)
    val docs = p.docs
    def mkTf: DataFrame =
      LlmOps.shingleHashes(docs, "doc_id", "text", 3, dedup = false)
        .withColumnRenamed("h", "term")
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    def mkWt: DataFrame = {
      val tf = mkTf
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nd = docs.select(col("doc_id")).agg(count(lit(1)).as("n_docs"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nd))
        .filter(col("df") >= 2L &&
          col("df") <= floor(lit(0.05) * col("n_docs")))
        .select(col("doc_id"), col("term"),
          expr("tf * (1000000 div df)").as("w"))
    }
    def dotsOne(w: DataFrame): DataFrame = w
      .select(col("doc_id").as("doc_a"), col("term"), col("w").as("wa"))
      .join(w.select(col("doc_id").as("doc_b"), col("term"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    def dotsTwo(w: DataFrame): DataFrame = w
      .select(col("doc_id").as("doc_a"), col("term"), col("w").as("wa"))
      .join(w.select(col("doc_id").as("doc_b"), col("term"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        pmod(col("term"), lit(salts.toLong)).as("__salt"))
      .agg(sum(col("wa") * col("wb")).as("__d"))
      .groupBy("doc_a", "doc_b").agg(sum(col("__d")).as("dot"))
    def tail(dots: DataFrame, w: DataFrame,
        bcastNorms: Boolean = false): DataFrame = {
      val nrm0 = w.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("n2"))
      val nrm = if (bcastNorms) broadcast(nrm0) else nrm0
      val sim = col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
      dots
        .join(nrm.select(col("doc_id").as("doc_a"), col("n2").as("na")),
          Seq("doc_a"))
        .join(nrm.select(col("doc_id").as("doc_b"), col("n2").as("nb")),
          Seq("doc_b"))
        .filter(sim >= minSim)
        .select(col("doc_a"), col("doc_b"), round(sim, 6).as("sim"))
    }
    def prod = TextOps.sparseCosinePairs(docs, "doc_id", "text",
      n = 3, minDf = 2L, maxDfFrac = 0.05, minSim = minSim)

    p.value("salts")(salts)
    p.stage("tf")(mkTf)
    p.stage("wt")(mkWt)
    val wt = Pin.checkpoint(mkWt, eager = true)
    p.value("n_wt")(wt.count())
    p.stage("dots_onelevel")(dotsOne(wt))
    p.stage("dots_twolevel")(dotsTwo(wt))
    p.stage("score_onelevel")(tail(dotsOne(wt), wt))
    p.stage("score_twolevel")(tail(dotsTwo(wt), wt))
    p.stage("score_bcast_norms")(tail(dotsOne(wt), wt, bcastNorms = true))
    p.stage("prod_noop")(prod)
    p.action("prod_count")(prod.count())

    // which join strategy production plans for the norm joins
    val prodPlan = prod.queryExecution.explainString(FormattedMode)
    p.value("prod_plan_smj")("SortMergeJoin".r.findAllIn(prodPlan).length)
    p.value("prod_plan_bhj")("BroadcastHashJoin".r.findAllIn(prodPlan).length)
    def chk(d: DataFrame): String = {
      val r = d.agg(count(lit(1)), sum("dot")).head()
      s"${r.getLong(0)}/${longOr0(r, 1)}"
    }
    def chkSim(d: DataFrame): String = {
      val r = d.agg(count(lit(1)),
        sum(round(col("sim") * 1e6).cast("long"))).head()
      s"${r.getLong(0)}/${longOr0(r, 1)}"
    }
    val dots = Seq(p.value("dots_chk_one")(chk(dotsOne(wt))),
      p.value("dots_chk_two")(chk(dotsTwo(wt))))
    val sims = Seq(p.value("sim_chk_one")(chkSim(tail(dotsOne(wt), wt))),
      p.value("sim_chk_two")(chkSim(tail(dotsTwo(wt), wt))),
      p.value("sim_chk_bcast")(
        chkSim(tail(dotsOne(wt), wt, bcastNorms = true))),
      p.value("sim_chk_prod")(chkSim(prod)))
    p.value("chk_equal")(Seq(dots, sims).forall(cs =>
      cs.forall(_.isDefined) && cs.distinct.size == 1))
    Pin.release(wt)
  }

  /** `TextOps.classifierTrain` by stage: `feats` (the distinct (y, doc,
    * bucket) feature frame), `train` (production), `train_fused` /
    * `train_fused_pinned` (the inline twin: the same arithmetic as one
    * lazy plan, over fresh and over persisted features), and the full
    * `llm_classifier_train` shape by count: `prod_count` and
    * `prod_fused_count`. The trained weights must be bit-identical.
    * Latest artifact: `bench_r20_classifier_train_stages_sf10.json`. */
  private def classifierTrainStages(p: Probe, args: Seq[String]): Unit = {
    val docs = p.docs
    val pos = docs.filter(col("source") === "src0")
    val neg = docs.filter(col("source") === "src1")
    val nBuckets = 256
    val iters = 3
    def feats(df: DataFrame, y: Int): DataFrame = df
      .select(col("doc_id").as("__r"), col("text"))
      .select(col("__r"), explode(LlmOps.words(col("text"))).as("__w"))
      .select(lit(y).as("y"), col("__r"),
        pmod(LlmOps.strHash(col("__w")), lit(nBuckets.toLong)).as("bucket"))
      .distinct()
    def mkF = feats(pos, 1).unionByName(feats(neg, 0))
    val FP = 1L << 20
    def trainFused(f: DataFrame): DataFrame = {
      val nd = f.groupBy(col("y"), col("__r"))
        .agg(count(lit(1)).as("__n"))
      var w: DataFrame = p.spark.range(nBuckets)
        .select(col("id").as("bucket"), lit(0L).as("w"))
      for (_ <- 1 to iters) {
        val z = f.join(broadcast(w), Seq("bucket"))
          .groupBy(col("y"), col("__r"))
          .agg(sum(col("w")).as("__zn"))
          .join(nd, Seq("y", "__r"))
        val pr = greatest(lit(0.0), least(lit(1.0),
          lit(0.5) + col("__zn").cast("double") /
            (lit(4.0 * (1L << 20)) * col("__n"))))
        val err = z.select(col("y"), col("__r"),
          (round(pr * FP, 0).cast("long") - col("y") * FP).as("__e"))
        val grad = f.join(err, Seq("y", "__r"))
          .groupBy(col("bucket"))
          .agg(sum(col("__e")).as("__g"))
        w = w.join(grad, Seq("bucket"), "left")
          .select(col("bucket"),
            (col("w") - expr(s"coalesce(__g, 0L) * 1 div 4096")).as("w"))
      }
      w
    }
    def train = TextOps.classifierTrain(pos, neg, "doc_id", "text",
      nBuckets = nBuckets, iters = iters)
    def score(wts: DataFrame): DataFrame =
      TextOps.classifierScore(docs, "doc_id", "text", wts,
        nBuckets = nBuckets, scale = 1048576.0, bias = 0.0)
        .orderBy("doc_id")

    p.stage("feats")(mkF)
    val fPinned = Pin.cache(mkF, eager = true)
    p.stage("train")(train)
    p.stage("train_fused")(trainFused(mkF))
    p.stage("train_fused_pinned")(trainFused(fPinned))
    p.action("prod_count")(score(train).count())
    p.action("prod_fused_count")(score(trainFused(mkF)).count())

    def chk(w: DataFrame): String = {
      val r = w.agg(count(lit(1)), sum("w"),
        sum(pmod(xxhash64(col("bucket"), col("w")), lit(1000000007L)))).head()
      s"${r.getLong(0)}/${longOr0(r, 1)}/${longOr0(r, 2)}"
    }
    val prodChk = p.value("chk_prod")(chk(train))
    val fusedChk = p.value("chk_fused")(chk(trainFused(mkF)))
    p.value("chk_equal")(prodChk.isDefined && prodChk == fusedChk)
    Pin.release(fPinned)
  }

  /** The stupid-backoff LM gate (`TextOps.lmStupidBackoff`) by stage:
    * `uni` / `bi` / `tri` (the train-split count tables), `pos` (the r18
    * string-shingle position frame), `score` (the r18 five-join score
    * over pinned inputs — the permanent inline twin), `pos_new` (the r19
    * native-kernel position frame), `prod_full` / `prod_count`
    * (production, noop and count) and both join-strategy branches
    * forced: `bcast_branch`, `shuffle_branch`. Twin, production and
    * both branches must give the same integer checksum.
    * Latest artifact: `bench_r19_lm_gate_stages_sf10.json`. */
  private def lmGateStages(p: Probe, args: Seq[String]): Unit = {
    val docs = p.docs
    val F = 1L << 20
    val trainPred = col("source") === "src0"
    def counts(n: Int): DataFrame = {
      val base = docs.filter(trainPred)
        .select(LlmOps.words(col("text")).as("__ws"))
      val grams =
        if (n == 1) base.select(explode(col("__ws")).as("__g"))
        else base.select(explode(LlmOps.shinglesOf(col("__ws"), n)).as("__g"))
      grams.select(LlmOps.strHash(col("__g")).as("h"))
        .groupBy("h").agg(count(lit(1)).as("c"))
    }
    def mkUni = counts(1).select(col("h"), col("c"),
      TextOps.log2Fixed(col("c")).as("f"),
      TextOps.log2Fixed(col("c") + 1L).as("fp"))
    def mkBi = counts(2).select(col("h"), TextOps.log2Fixed(col("c")).as("f"))
    def mkTri = counts(3).select(col("h"), TextOps.log2Fixed(col("c")).as("f"))
    def mkTot = counts(1).agg(sum(col("c")).as("__n"), count(lit(1)).as("__v"))
      .select(TextOps.log2Fixed(col("__n") + col("__v")).as("__ft"))
    def mkPos = docs
      .select(col("doc_id"), LlmOps.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("__ws")) - 3),
        i => {
          val ws = col("__ws")
          struct(
            concat_ws(" ", ws(i), ws(i + 1), ws(i + 2)).as("s3"),
            concat_ws(" ", ws(i), ws(i + 1)).as("s2c"),
            concat_ws(" ", ws(i + 1), ws(i + 2)).as("s2"),
            ws(i + 1).as("s1c"),
            ws(i + 2).as("s1"))
        })).as("__g"))
      .select(col("doc_id"),
        LlmOps.strHash(col("__g.s3")).as("h3"),
        LlmOps.strHash(col("__g.s2c")).as("h2c"),
        LlmOps.strHash(col("__g.s2")).as("h2"),
        LlmOps.strHash(col("__g.s1c")).as("h1c"),
        LlmOps.strHash(col("__g.s1")).as("h1"))
    def mkPosNew = docs
      .select(col("doc_id"), LlmOps.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col("doc_id"),
        posexplode(LlmOps.backoffGramHashesOf(col("__ws")))
          .as(Seq("__pos", "__g")))
      .select(col("doc_id"), col("__pos"),
        col("__g.h3").as("h3"), col("__g.h2c").as("h2c"),
        col("__g.h2").as("h2"), col("__g.h1c").as("h1c"),
        col("__g.h1").as("h1"))

    p.stage("uni")(mkUni)
    p.stage("bi")(mkBi)
    p.stage("tri")(mkTri)
    p.stage("pos")(mkPos)

    // pinned inputs isolate the score side
    val Seq(uni, bi, tri, tot, pos) =
      Seq(mkUni, mkBi, mkTri, mkTot, mkPos).map(Pin.checkpoint(_, eager = true))
    p.value("n_pos")(pos.count())
    p.value("n_uni")(uni.count())
    p.value("n_bi")(bi.count())
    p.value("n_tri")(tri.count())
    def scoreR18(ps: DataFrame): DataFrame = ps
      .join(tri.select(col("h").as("h3"), col("f").as("f3")), Seq("h3"), "left")
      .join(bi.select(col("h").as("h2c"), col("f").as("f2c")), Seq("h2c"), "left")
      .join(bi.select(col("h").as("h2"), col("f").as("f2")), Seq("h2"), "left")
      .join(uni.select(col("h").as("h1c"), col("f").as("f1c")), Seq("h1c"), "left")
      .join(uni.select(col("h").as("h1"), col("fp").as("f1p")), Seq("h1"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("f3").isNotNull, col("f3") - col("f2c"))
          .when(col("f2").isNotNull, col("f2") - col("f1c") - lit(F))
          .otherwise(coalesce(col("f1p"), lit(0L)) - col("__ft") - lit(2L * F))
          .as("__s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"), sum(col("__s")).as("__sum"))
    p.stage("score")(scoreR18(pos))
    p.stage("pos_new")(mkPosNew)

    def prod = TextOps.lmStupidBackoff(docs, "doc_id", "text",
      trainPred = trainPred, threshBits = 8)
    def prodB = TextOps.lmStupidBackoffImpl(docs, "doc_id", "text",
      trainPred, 8, maxBroadcastRows = Long.MaxValue)
    def prodS = TextOps.lmStupidBackoffImpl(docs, "doc_id", "text",
      trainPred, 8, maxBroadcastRows = 0L)
    p.stage("prod_full")(prod)
    p.action("prod_count")(prod.count())
    p.stage("bcast_branch")(prodB)
    p.stage("shuffle_branch")(prodS)

    // the kept count comes from the UNROUNDED sums; per-doc
    // bits_per_gram is a rounded double, summed as integral micro-units
    // so the checksum does not depend on partition order
    def chk(d: DataFrame): String = {
      val r = d.agg(sum("n_grams"), sum("kept"),
        sum(round(col("bits_per_gram") * 1e6).cast("long"))).head()
      s"${r.getLong(0)}/${r.getLong(1)}/${r.getLong(2)}"
    }
    val twin = scoreR18(pos).select(col("n_grams"),
      round(-col("__sum").cast("double") / (col("n_grams") * lit(F)), 6)
        .as("bits_per_gram"),
      (-col("__sum") <= col("n_grams") * lit(8L * F)).cast("long").as("kept"))
    val chks = Seq(p.value("twin_chk")(chk(twin)),
      p.value("prod_chk")(chk(prod)),
      p.value("bcast_chk")(chk(prodB)),
      p.value("shuffle_chk")(chk(prodS)))
    p.value("chk_equal")(chks.forall(_.isDefined) && chks.distinct.size == 1)
    Seq(uni, bi, tri, tot, pos).foreach(Pin.release)
  }

  /** `llm_curriculum_pack_banded` by stage, each against pinned inputs
    * so it is that stage's own cost: `lm_gate` (train + score +
    * threshold), `layout` (banded range layout), `vocab` (BPE vocab
    * assembly), `count_kernel` (the count-only BPE pass), `encode` (the
    * real encode, one row per token), `pack_pinned` (the pack over
    * pinned inputs) and `full` (the query end to end, nothing pinned).
    * The count kernel and the encode must agree on the token count.
    * Latest artifact: `bench_r18_curriculum_stages_sf10.json`.
    * args: [budget=256] */
  private def curriculumStages(p: Probe, args: Seq[String]): Unit = {
    val budget = args.headOption.fold(256L)(_.toLong)
    val docs = p.docs
    def mkScored = TextOps.lmStupidBackoff(docs, "doc_id", "text",
      trainPred = col("source") === "src0", threshBits = 8)
      .filter(col("kept") === 1L)
    p.counted("lm_gate", "n_kept")(mkScored.count())
    val scored = Pin.checkpoint(
      mkScored.select("doc_id", "bits_per_gram"), eager = true)
    def mkOrder = TextOps.curriculumLayoutRange(
      scored, "doc_id", "bits_per_gram", nBands = 4)
    p.action("layout")(mkOrder.count())
    val order = Pin.checkpoint(mkOrder, eager = true)
    val sel = Pin.checkpoint(docs.join(order.select("doc_id"), Seq("doc_id"))
      .select("doc_id", "text"), eager = true)
    val vocab = p.action("vocab")(TextOps.bpeVocab(sel, "text", TextOps.BpeMergesEn))
    vocab.foreach(v => p.value("vocab_size")(v.size))
    val nTok = p.counted("count_kernel", "n_tokens")(sel.select(
      TextOps.bpeTokenCountCol(col("text"), TextOps.BpeMergesEn).as("n"))
      .agg(sum("n")).head().getLong(0))
    val nEnc = vocab.flatMap(v => p.action("encode")(TextOps.bpeEncodeIds(
      sel, "doc_id", "text", TextOps.BpeMergesEn, v).count()))
    p.value("tokens_equal")(nTok.isDefined && nTok == nEnc)
    p.counted("pack_pinned", "n_packed")(TextOps.packTokenIdsBy(
      sel, "doc_id", "text", budget, order).count())
    p.counted("full", "n_full") {
      val sc = TextOps.lmStupidBackoff(docs, "doc_id", "text",
        trainPred = col("source") === "src0", threshBits = 8)
        .filter(col("kept") === 1L)
      val or = TextOps.curriculumLayoutRange(
        sc, "doc_id", "bits_per_gram", nBands = 4)
      val se = docs.join(or.select("doc_id"), Seq("doc_id"))
      TextOps.packTokenIdsBy(se, "doc_id", "text", budget, order = or).count()
    }
    Seq(scored, order, sel).foreach(Pin.release)
  }

  /** Deterministic 24×24 gray PNG for a seed: pixel = a full murmur
    * finalizer over (x, y, seed), so equal seeds give equal bytes and
    * different seeds independent pixel fields (a weaker mix left
    * cross-seed cell means correlated and fabricated near-dup mass). */
  private def makePng(seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      24, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 24) {
      var x = 0
      while (x < 24) {
        var z = (x * 31L + y) ^ (seed * -7046029254386353131L)
        z = (z ^ (z >>> 33)) * -49064778989728563L
        z = (z ^ (z >>> 33)) * -4265267296055464877L
        val v = ((z ^ (z >>> 33)) & 0xffL).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** The multimodal operators at one scale factor (run it per sf for a
    * decade ratio): `incr` (`payloadIncrementalNearDup`, history =
    * doc_id % 3 == 0), `crossmodal` (`crossModalDupGroups`, docs whose
    * canonical moved; a run past the CC round cap is a recorded
    * failure), and over one real 24×24 PNG per doc, ~10 docs per
    * distinct image: `img_gen`, `img_decode`, `img_pairs` (aHash),
    * `img_semantic` (patch-statistics embedding + LSH + exact cosine)
    * and `img_ann` (~1% of docs probe for their 5 nearest images via
    * IVF, 16 cells, nprobe 2).
    * Latest artifact: `bench_r20_multimodal_scale.json`. */
  private def multimodalScale(p: Probe, args: Seq[String]): Unit = {
    val docs = p.docs.withColumn("payload", MultimodalOps.withPayload(col("text")))
    val n = p.nDocs
    val hist = docs.filter(col("doc_id") % 3 === 0)
    val fresh = docs.filter(col("doc_id") % 3 =!= 0)
    val histN = hist.count()
    p.value("hist_n")(histN)
    p.counted("incr", "incr_kept")(MultimodalOps.payloadIncrementalNearDup(
      fresh, hist, "doc_id", "payload", histN = histN).count())
    p.counted("crossmodal", "crossmodal_dups")(MultimodalOps.crossModalDupGroups(
      docs, "doc_id", "text", "payload", n = n)
      .filter(col("canonical_id") =!= col("doc_id")).count())

    val seedMod = math.max(1L, n / 10L)
    val imgSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("img", BinaryType)))
    def mkImages = p.spark.createDataFrame(
      docs.select(col("doc_id")).rdd.mapPartitions(_.map { r =>
        val id = r.getLong(0)
        Row(id, makePng(id % seedMod))
      }), imgSchema)
    p.stage("img_gen")(mkImages)
    val images = Pin.cache(mkImages, eager = true)
    p.counted("img_decode", "img_decoded")(
      ImageOps.decodeImageMeta(images, "doc_id", "img")
        .agg(sum(when(col("ok"), 1L).otherwise(0L))).head().getLong(0))
    p.counted("img_pairs", "img_pairs")(
      ImageOps.imageNearDupPairs(images, "doc_id", "img", n = n).count())
    p.counted("img_semantic", "img_semantic_pairs")(
      ImageOps.imageSemanticNearDupPairs(
        images, "doc_id", "img", threshold = 0.99, n = n).count())
    p.counted("img_ann", "img_ann_rows")(ImageOps.imageAnnTopK(
      images, "doc_id", "img", id => id % 97 === 0, topK = 5,
      kCells = 16, nprobe = 2).count())
    Pin.release(images)
  }

  /** Writes `.explain("formatted")` of each named `SparkEntry` query to
    * `<outDir>/<name>.txt` — the plan evidence committed under `plans/`;
    * `values` holds each plan's length (or the error for an unknown
    * name). args: outDir name[,name…] */
  private def plans(p: Probe, args: Seq[String]): Unit = {
    require(args.length == 2, "plans args: outDir name[,name...]")
    val outDir = Paths.get(args(0))
    Files.createDirectories(outDir)
    args(1).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      p.value(name) {
        val fn = graft.SparkEntry.queries.getOrElse(name,
          throw new NoSuchElementException(s"unknown query $name"))
        val plan = fn(p.spark, p.dir).queryExecution.explainString(FormattedMode)
        Files.write(outDir.resolve(s"$name.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        plan.length
      }
    }
  }
}
