package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.{Probe, Probes}
import graft.util.Json

/** The probe harness: stages are forced through the noop sink, metrics
  * land under the stage that ran them, a failing stage does not stop the
  * probe, and every registered probe runs and agrees with its twins. */
class ProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def stagesOf(json: String): Map[String, Map[String, Any]] =
    stagesIn(Json.objectToMap(json))

  private def stagesIn(out: Map[String, Any]): Map[String, Map[String, Any]] =
    out("stages").asInstanceOf[Seq[Map[String, Any]]]
      .map(s => s("name").toString -> s).toMap

  test("a stage computes every row of its frame in each run, which a " +
    ".count() of the same frame does not") {
    val acc = spark.sparkContext.longAccumulator("probe_rows")
    val bump = udf { (s: String) => acc.add(1L); s.length }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val perRow = docs.select(bump(col("text")).as("n"))
    val rows = docs.count()
    val out = Probe.run(spark, "udf", sf)(_.stage("per_row")(perRow))
    assert(acc.value == rows * Probe.Runs)
    assert(stagesOf(out)("per_row")("runs").asInstanceOf[Seq[_]].size == Probe.Runs)
    acc.reset()
    perRow.count()
    assert(acc.value == 0L, "count() prunes the per-row UDF")
  }

  test("jobs and shuffle bytes are attributed to the stage that ran them") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val st = stagesOf(Probe.run(spark, "attribution", sf) { p =>
      p.stage("shuffle")(docs.groupBy(col("doc_id") % 7).count())
      p.stage("scan")(docs.select("doc_id"))
    })
    def num(stage: String, key: String): Long =
      st(stage)(key).asInstanceOf[Number].longValue
    assert(num("shuffle", "jobs") > 0L)
    assert(num("shuffle", "shuffle_write_bytes") > 0L)
    assert(num("scan", "jobs") > 0L)
    assert(num("scan", "shuffle_write_bytes") == 0L)
  }

  test("a throwing stage, value or unstable count is recorded with its " +
    "message and the next stage still runs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Probe.run(spark, "failure", sf) { p =>
      p.stage("boom")(docs.select(raise_error(lit("probe boom"))))
      p.value("bad")(throw new IllegalStateException("no value"))
      var runs = 0L
      p.counted("unstable", "unstable_n") { runs += 1; runs }
      p.stage("after")(docs)
    }
    val st = stagesOf(out)
    assert(st("boom")("error").toString.contains("probe boom"))
    assert(st("unstable")("error").toString.contains("differs between runs"))
    assert(!st("boom").contains("sec"))
    assert(st("after")("sec").asInstanceOf[Double] > 0.0)
    val values = Json.objectToMap(out)("values").asInstanceOf[Map[String, Any]]
    assert(values("bad").toString.contains("no value"))
    assert(!values.contains("unstable_n"))
  }

  // Artifact keys of each probe's latest committed bench_r* output: a
  // `_sec` key is the stage of that name without `_sec`, any other key
  // is a value.
  private val artifactKeys: Map[String, Seq[String]] = {
    val ccArm = Seq("pairs_sec", "n_pairs", "cc_sec", "converged", "rounds",
      "prod_count_sec", "chk_inst", "chk_prod", "chk_equal")
    Map(
      "cc_iter" -> Seq("dedup_groups_minhash", "crossmodal_union")
        .flatMap(a => ccArm.map(k => s"$a.$k")),
      "gopher_rep_stages" -> Seq("words_sec", "led_sec", "counts_sec",
        "relational_e2e_sec", "prod_noop_sec", "prod_count_sec", "prod_chk",
        "relational_chk", "chk_equal"),
      "tfidf_stages" -> Seq("n_wt", "salts", "tf_sec", "wt_sec",
        "dots_onelevel_sec", "dots_twolevel_sec", "score_onelevel_sec",
        "score_twolevel_sec", "score_bcast_norms_sec", "prod_noop_sec",
        "prod_count_sec", "prod_plan_smj", "prod_plan_bhj", "dots_chk_one",
        "dots_chk_two", "sim_chk_one", "sim_chk_two", "sim_chk_bcast",
        "sim_chk_prod", "chk_equal"),
      "classifier_train_stages" -> Seq("feats_sec", "train_sec",
        "train_fused_sec", "train_fused_pinned_sec", "prod_count_sec",
        "prod_fused_count_sec", "chk_prod", "chk_fused", "chk_equal"),
      "lm_gate_stages" -> Seq("n_pos", "n_uni", "n_bi", "n_tri", "uni_sec",
        "bi_sec", "tri_sec", "pos_sec", "pos_new_sec", "score_sec",
        "prod_full_sec", "prod_count_sec", "bcast_branch_sec",
        "shuffle_branch_sec", "twin_chk", "prod_chk", "bcast_chk",
        "shuffle_chk", "chk_equal"),
      "curriculum_stages" -> Seq("n_kept", "n_tokens", "n_packed", "n_full",
        "vocab_size", "lm_gate_sec", "layout_sec", "vocab_sec",
        "count_kernel_sec", "encode_sec", "pack_pinned_sec", "full_sec"),
      "multimodal_scale" -> Seq("hist_n", "incr_sec", "incr_kept",
        "crossmodal_sec", "crossmodal_dups", "img_gen_sec", "img_decode_sec",
        "img_decoded", "img_pairs_sec", "img_pairs", "img_semantic_sec",
        "img_semantic_pairs", "img_ann_sec", "img_ann_rows"))
  }

  test("every registered probe runs at sf0.001 without a failed stage, " +
    "covers its artifact's keys, and its equality flags hold") {
    val planDir = java.nio.file.Files.createTempDirectory("graft_plans")
    val args = Map("plans" -> Seq(planDir.toString, "q1_pricing,p1_rename"))
    assert(Probes.registry.keySet == artifactKeys.keySet + "plans")
    Probes.registry.foreach { case (name, body) =>
      val out = Json.objectToMap(
        Probe.run(spark, name, sf)(body(_, args.getOrElse(name, Nil))))
      assert(out("probe") == name)
      assert(out("n_docs").asInstanceOf[Number].longValue > 0L)
      val stages = stagesIn(out)
      val values = out("values").asInstanceOf[Map[String, Any]]
      stages.values.foreach(s => assert(!s.contains("error"), s"$name: $s"))
      values.foreach { case (k, v) =>
        assert(!v.toString.startsWith("error:"), s"$name.$k: $v")
        if (k.endsWith("equal")) assert(v == true, s"$name.$k")
      }
      artifactKeys.getOrElse(name, Nil).foreach { k =>
        if (k.endsWith("_sec")) assert(stages.contains(k.stripSuffix("_sec")), s"$name: $k")
        else assert(values.contains(k), s"$name: $k")
      }
    }
    Seq("q1_pricing", "p1_rename").foreach(q =>
      assert(java.nio.file.Files.size(planDir.resolve(s"$q.txt")) > 0L))
  }
}
