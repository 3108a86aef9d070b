package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.engine.Orchestrator

/** C2-C6 sequence semantics — mirrors the reference's sequence suites
  * (src/core/pipeline_sequence.rs:12-319, tests/sequence_integration_test.rs). */
class OrchestratorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(rows: Seq[String], name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_orch").toString
    import spark.implicits._
    spark.read.json(spark.createDataset(rows))
      .write.mode("overwrite").parquet(s"$dir/$name")
    s"$dir/$name"
  }

  private def filePipeline(name: String, path: String,
      transform: TransformDef = TransformDef(addProcessedFlags = false),
      conditions: ConditionsDef = ConditionsDef()): PipelineDef =
    PipelineDef(name, FileSource(path), transform = transform, conditions = conditions)

  // ----- C4: validation ----------------------------------------------
  test("C4: unknown execution_order name fails validation") {
    val seq = SequenceDef("s", Seq("ghost"), Seq(filePipeline("real", "/tmp/x")))
    val e = intercept[Orchestrator.ValidationException](Orchestrator.validate(seq))
    assert(e.msg.contains("ghost"))
  }

  test("C4: dependency cycle detected by DFS") {
    val a = filePipeline("a", "/tmp/x").copy(dependencies = Seq("b"))
    val b = filePipeline("b", "/tmp/x").copy(dependencies = Seq("a"))
    val seq = SequenceDef("s", Seq("a", "b"), Seq(a, b))
    val e = intercept[Orchestrator.ValidationException](Orchestrator.validate(seq))
    assert(e.msg.contains("cycle"))
  }

  // ----- C2: conditional execution ------------------------------------
  test("C2: when_shared_data mismatch and records_count bounds skip the pipeline") {
    val p = fixture(Seq("""{"id":1}""", """{"id":2}"""), "two")
    val seq = SequenceDef("s", Seq("first", "needsFlag", "needsMany"), Seq(
      filePipeline("first", p),
      filePipeline("needsFlag", p,
        conditions = ConditionsDef(whenSharedData = Map("mode" -> "on"))),
      filePipeline("needsMany", p,
        conditions = ConditionsDef(whenRecordsCount =
          Some(RecordsCountCond(min = Some(100)))))))
    val ctx = Orchestrator.execute(spark, seq)
    assert(ctx.results("first").status === "succeeded")
    assert(ctx.results("needsFlag").status === "skipped")
    assert(ctx.results("needsMany").status === "skipped") // 2 < min 100
  }

  test("C2: disabled pipeline is skipped; when_previous_succeeded gates the head") {
    val p = fixture(Seq("""{"id":1}"""), "one")
    val seq = SequenceDef("s", Seq("head"), Seq(
      filePipeline("head", p,
        conditions = ConditionsDef(whenPreviousSucceeded = true))))
    // no previous success exists → skipped
    assert(Orchestrator.execute(spark, seq).results("head").status === "skipped")
  }

  // ----- C3: failure policy ------------------------------------------
  test("C3: first failure aborts under stop (reference behavior)") {
    val good = fixture(Seq("""{"id":1}"""), "g")
    val seq = SequenceDef("s", Seq("ok", "bad", "after"), Seq(
      filePipeline("ok", good),
      filePipeline("bad", "/nonexistent/path/nowhere"),
      filePipeline("after", good)))
    val e = intercept[Orchestrator.SequenceFailed](Orchestrator.execute(spark, seq))
    assert(e.getMessage.contains("sequence aborted"))
    // the abort carries the partial context: completed work is reportable
    // (the reference writes sequence_metrics.json for failed runs too)
    assert(e.ctx.results("ok").status === "succeeded")
    assert(e.ctx.results("bad").status === "failed")
    assert(!e.ctx.results.contains("after"))
  }

  test("C3: continue policy records the failure and proceeds") {
    val good = fixture(Seq("""{"id":1}"""), "g2")
    val seq = SequenceDef("s", Seq("bad", "after"), Seq(
      filePipeline("bad", "/nonexistent/path/nowhere"),
      filePipeline("after", good)),
      onPipelineFailure = "continue")
    val ctx = Orchestrator.execute(spark, seq)
    assert(ctx.results("bad").status === "failed")
    assert(ctx.results("after").status === "succeeded")
  }

  test("C3: retry re-attempts a transiently failing extract") {
    val rec = new TestHttp.Recorded
    TestHttp.withServer("/flaky" -> { ex =>
      rec.synchronized { rec.calls += 1 }
      if (rec.calls == 1) TestHttp.respond(ex, 500, "boom")
      else TestHttp.respond(ex, 200, """[{"id":1}]""")
    }) { base =>
      val seq = SequenceDef("s", Seq("flaky"), Seq(
        PipelineDef("flaky",
          ApiSource(HttpRequestDef(s"$base/flaky")),
          extract = ExtractDef(onApiFailure = "fail"),
          transform = TransformDef(addProcessedFlags = false))),
        retryAttempts = 2)
      val ctx = Orchestrator.execute(spark, seq)
      assert(ctx.results("flaky").status === "succeeded")
      assert(rec.calls === 2)
    }
  }

  // ----- on_transform_error / on_load_error (declared-but-dead in the
  // reference's ErrorHandlingConfig, toml_config.rs:106-110) -----------
  test("on_transform_error=skip: transform failure records failed, sequence continues " +
    "even under on_pipeline_failure=stop") {
    val good = fixture(Seq("""{"id":1}"""), "te_g")
    val seq = SequenceDef("s", Seq("bad", "after"), Seq(
      // a failed required-fields validation is a transform-phase error
      // (keep_only/exclude skip missing columns by design)
      filePipeline("bad", good,
        transform = TransformDef(addProcessedFlags = false,
          validation = Some(ValidationDef(requiredFields = Seq("ghost_col"))))),
      filePipeline("after", good)),
      onPipelineFailure = "stop", onTransformError = "skip")
    val ctx = Orchestrator.execute(spark, seq)
    assert(ctx.results("bad").status === "failed")
    assert(ctx.results("bad").failedPhase === Some("transform"))
    assert(ctx.results("after").status === "succeeded")
    // default stop policy still aborts (the round-3 silent-stop behavior
    // is now the DOCUMENTED default, not the only behavior)
    intercept[Orchestrator.SequenceFailed](
      Orchestrator.execute(spark, seq.copy(onTransformError = "stop")))
  }

  test("on_load_error=continue: sink failure keeps the transformed frame " +
    "available to later pipelines") {
    val good = fixture(Seq("""{"id":7,"v":"x"}"""), "le_g")
    // output_path collides with an existing FILE → mkdir fails in the sink
    val clash = java.nio.file.Files.createTempFile("graft_le", ".clash")
    val seq = SequenceDef("s", Seq("writer", "reader"), Seq(
      filePipeline("writer", good).copy(
        load = Some(LoadDef(s"$clash/sub", formats = Seq("json"), singleFile = false))),
      PipelineDef("reader", PreviousSource(Some("writer")),
        transform = TransformDef(addProcessedFlags = false))),
      onPipelineFailure = "stop", onLoadError = "continue")
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    assert(ctx.results("writer").status === "failed")
    assert(ctx.results("writer").failedPhase === Some("load"))
    assert(ctx.results("writer").df.nonEmpty, "frame survives the sink failure")
    // the kept frame keeps a REAL count — a when_records_count condition
    // downstream must not read 0 and silently skip the consumer
    assert(ctx.results("writer").recordCount === 1L)
    assert(ctx.results("reader").status === "succeeded")
    assert(ctx.results("reader").df.get.select("id").collect().head.getLong(0) === 7L)
    // same failure under the default policy aborts the sequence
    intercept[Orchestrator.SequenceFailed](
      Orchestrator.execute(spark, seq.copy(onLoadError = "stop")))
  }

  test("on_load_error=continue: a write that fails after computing its " +
    "frame leaves it pinned, so the record count does not recompute it") {
    val src = fixture(Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""), "le_src")
    val out = java.nio.file.Files.createTempDirectory("graft_le_out").toString
    // a private session: the failing commit protocol is session conf
    val session = spark.newSession()
    session.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[RefusingCommitProtocol].getName)
    val seq = SequenceDef("s", Seq("writer"), Seq(
      filePipeline("writer", src).copy(
        load = Some(LoadDef(out, formats = Seq("json"))))),
      onLoadError = "continue")
    val ctx = Orchestrator.execute(session, seq, unpersistOnEnd = false)
    try {
      assert(ctx.results("writer").failedPhase === Some("load"))
      val kept = ctx.results("writer").df.get
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      val pin = kept.sparkSession.sharedState.cacheManager.lookupCachedData(kept)
      assert(pin.exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded),
        "the failed write's pass filled the kept frame's pin")
      assert(ctx.results("writer").recordCount === 3L)
    } finally ctx.unpersistAll()
  }

  test("append_to_sequence: flagged pipelines contribute to ONE combined " +
    "sequence-level write (drift-tolerant union); unflagged and skipped do not") {
    val pa = fixture(Seq("""{"id":1,"a_col":"x"}"""), "ats_a")
    val pb = fixture(Seq("""{"id":2,"b_col":"y"}"""), "ats_b") // schema drift
    val pc = fixture(Seq("""{"id":3,"a_col":"z"}"""), "ats_c")
    val pd = fixture(Seq("""{"id":4,"a_col":"w"}"""), "ats_d")
    val out = java.nio.file.Files.createTempDirectory("graft_ats_out").toString
    def sink(append: Boolean) = Some(LoadDef(out, formats = Seq("json"),
      singleFile = false, appendToSequence = append))
    val seq = SequenceDef("ats", Seq("a", "b", "c", "d"), Seq(
      filePipeline("a", pa).copy(load = sink(append = true)),
      filePipeline("b", pb).copy(load = sink(append = true)),
      filePipeline("c", pc).copy(load = sink(append = false)),
      filePipeline("d", pd).copy(load = sink(append = true),
        conditions = ConditionsDef(whenSharedData = Map("never" -> "set")))))
    val ctx = Orchestrator.execute(spark, seq)
    assert(ctx.results("d").status === "skipped")
    assert(ctx.combinedOutput === Some(out))
    val combined = spark.read.json(s"$out/ats_combined_output_json")
    assert(combined.select("id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L), "only flagged, succeeded pipelines contribute")
    // drift-tolerant union: each side's unique column survives, null-filled
    assert(combined.columns.toSet === Set("id", "a_col", "b_col"))
  }

  test("append_to_sequence: no contributors → no combined write") {
    val p = fixture(Seq("""{"id":1}"""), "ats_none")
    val seq = SequenceDef("s", Seq("only"), Seq(filePipeline("only", p)))
    assert(Orchestrator.execute(spark, seq).combinedOutput === None)
  }

  test("error policies validate: unknown on_transform_error value is rejected") {
    val seq = SequenceDef("s", Seq("p"), Seq(filePipeline("p", "/tmp/x")),
      onTransformError = "explode")
    val e = intercept[Orchestrator.ValidationException](Orchestrator.validate(seq))
    assert(e.msg.contains("on_transform_error"))
  }

  // ----- C1: oversize shared-export branch fails loudly ----------------
  test("C1: a >100-row intermediate export branch fails instead of truncating") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_c1big").toString
    (1L to 101L).map(i => (i, "t")).toDF("id", "k")
      .write.mode("overwrite").parquet(s"$dir/big")
    val seq = SequenceDef("s", Seq("exp"), Seq(
      filePipeline("exp", s"$dir/big",
        transform = TransformDef(addProcessedFlags = false,
          intermediate = Some(IntermediateDef(sharedKey = "x"))))))
    val e = intercept[Orchestrator.SequenceFailed](Orchestrator.execute(spark, seq))
    assert(e.getMessage.contains("100 rows"))
    // at the cap it still exports fine
    (1L to 100L).map(i => (i, "t")).toDF("id", "k")
      .write.mode("overwrite").parquet(s"$dir/ok")
    val ctx = Orchestrator.execute(spark, SequenceDef("s2", Seq("exp"), Seq(
      filePipeline("exp", s"$dir/ok",
        transform = TransformDef(addProcessedFlags = false,
          intermediate = Some(IntermediateDef(sharedKey = "x")))))))
    assert(ctx.results("exp").status === "succeeded")
    assert(ctx.shared.contains("x_id"))
  }

  // ----- J1: merge-with-previous semantics ----------------------------
  test("J1: API record wins, previous fills missing fields, unmatched pass through") {
    val prev = fixture(Seq(
      """{"id":1,"name":"prev1","city":"berlin"}""",
      """{"id":2,"name":"prev2","city":"paris"}"""), "prev")
    val api = fixture(Seq(
      """{"id":1,"name":"api1"}""",
      """{"id":3,"name":"api3"}"""), "api")
    val seq = SequenceDef("s", Seq("p", "a"), Seq(
      filePipeline("p", prev),
      filePipeline("a", api,
        transform = TransformDef(addProcessedFlags = false,
          mergeWithPrevious = true, mergeKey = "id"))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("a").df.get
      .select("id", "name", "city").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq === Seq(
      (1L, "api1", "berlin"), // api name wins, prev fills city
      (3L, "api3", null)))    // unmatched api row passes through
  }

  // ----- S6/S7: combined + merged-API sources -------------------------
  test("S6 combined source unions all previous outputs with schema drift") {
    val a = fixture(Seq("""{"id":1,"only_a":"x"}"""), "ca")
    val b = fixture(Seq("""{"id":2,"only_b":true}"""), "cb")
    val seq = SequenceDef("s", Seq("a", "b", "all"), Seq(
      filePipeline("a", a), filePipeline("b", b),
      PipelineDef("all", CombinedSource,
        transform = TransformDef(addProcessedFlags = false))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("all").df.get
    assert(out.count() === 2)
    assert(out.columns.sorted.toSeq === Seq("id", "only_a", "only_b"))
  }

  test("S7 merged-API source concatenates previous outputs with a fresh API read") {
    val p = fixture(Seq("""{"id":1,"src":"prev"}"""), "mp")
    TestHttp.withServer("/m" ->
      (TestHttp.respond(_, 200, """[{"id":9,"src":"api"}]"""))) { base =>
      val seq = SequenceDef("s", Seq("prev", "merged"), Seq(
        filePipeline("prev", p),
        PipelineDef("merged",
          MergedApiSource(HttpRequestDef(s"$base/m")),
          extract = ExtractDef(onApiFailure = "fail"),
          transform = TransformDef(addProcessedFlags = false))))
      val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
      val srcs = ctx.results("merged").df.get
        .select("src").collect().map(_.getString(0)).sorted
      assert(srcs.toSeq === Seq("api", "prev"))
    }
  }

  // ----- LLM extension: config-driven near-dup removal ----------------
  test("near_dedup transform drops near-duplicate docs, keeping the min id per cluster") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft_nd").toString
    Seq(
      (1L, base),
      (2L, base), // exact dup of 1
      (3L, base.replace("delta", "CHANGED")), // near-dup of 1
      (4L, "totally different content with none of the same words at all ok")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("nd"), Seq(
      PipelineDef("nd", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          nearDedup = Some(NearDedupDef("doc_id", "text"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("nd").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L)) // 2 and 3 collapse into cluster of 1
  }

  test("winnow_dedup transform drops local-overlap docs (shared passage), " +
    "keeping the min id per cluster") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog once more today"
    val dir = java.nio.file.Files.createTempDirectory("graft_wd").toString
    Seq(
      (1L, s"alpha intro $passage closing alpha remark"),
      (2L, s"beta preamble entirely other $passage beta outro words"), // shares the passage
      (3L, "unrelated text with no borrowed passage at all in it here")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("wd"), Seq(
      PipelineDef("wd", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          winnowDedup = Some(WinnowDedupDef("doc_id", "text",
            minShared = 1, minOverlap = 0.2))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("wd").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L)) // 2 collapses into 1 via the passage
  }

  test("payload_dedup transform drops perceptual near-duplicate payloads, " +
    "keeping the min id per cluster (StringType field UTF-8-encodes)") {
    import spark.implicits._
    // ~500 bytes of varied structure (the LlmOpsSpec fixture): a
    // trailing edit moves one block's mean slightly — within hamming 3
    val base = (1 to 40).map(i => s"word${i * 7} chunk${i * 13}")
      .mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_pd").toString
    Seq(
      (1L, base),
      (2L, base),           // identical payload
      (3L, base + " tail"), // trailing edit: perceptual near-dup
      (4L, (1 to 40).map(i => s"zzz${i * 31} q${i * 3}").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("pd"), Seq(
      PipelineDef("pd", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          payloadDedup = Some(PayloadDedupDef("doc_id", "text"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("pd").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L)) // 2 and 3 collapse into cluster of 1
  }

  test("payload_dedup_registry transform drops new payloads " +
    "near-duplicating the media registry at history_path, keeps novel " +
    "ones — history is never re-paired against itself") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"word${i * 7} chunk${i * 13}")
      .mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_pdr").toString
    // the media registry: different field names than the batch side
    Seq((100L, base))
      .toDF("mid", "bytes").write.mode("overwrite").parquet(s"$dir/hist")
    Seq(
      (1L, base),           // verbatim repeat of a registry payload → dropped
      (2L, base + " tail"), // perceptual near-dup of the registry → dropped
      (3L, (1 to 40).map(i => s"zzz${i * 31} q${i * 3}").mkString(" ")))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("pdr"), Seq(
      PipelineDef("pdr", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          payloadDedupRegistry = Some(PayloadDedupRegistryDef(
            idField = "doc_id", payloadField = "text",
            historyPath = s"$dir/hist",
            historyIdField = "mid", historyPayloadField = "bytes"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("pdr").df.get
    assert(out.columns.toSeq === Seq("doc_id", "text"),
      "the probe helper column must not leak into the result")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(3L))
  }

  test("crossmodal_dedup transform canonicalizes across modalities: a " +
    "text edge and a payload edge chain into ONE component keeping the " +
    "min id; unlinked docs survive") {
    import spark.implicits._
    val textA = (1 to 40).map(i => s"alpha${i * 7} tok${i * 13}").mkString(" ")
    val textB = (1 to 40).map(i => s"beta${i * 11} kk${i * 5}").mkString(" ")
    val textC = (1 to 40).map(i => s"gamma${i * 17} vv${i * 3}").mkString(" ")
    val mediaM = (1 to 40).map(i => s"pix${i * 23} blk${i * 29}").mkString(" ")
    val mediaN = (1 to 40).map(i => s"wav${i * 37} seg${i * 41}").mkString(" ")
    val mediaP = (1 to 40).map(i => s"vid${i * 43} frm${i * 47}").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_xm").toString
    Seq(
      (1L, textA, mediaM), // text-identical to 2
      (2L, textA, mediaN), // media-identical to 3 → chain {1,2,3}
      (3L, textB, mediaN),
      (4L, textC, mediaP)) // linked to nothing
      .toDF("doc_id", "text", "media")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("xm"), Seq(
      PipelineDef("xm", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          crossModalDedup = Some(CrossModalDedupDef(
            idField = "doc_id", textField = "text",
            payloadField = "media"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("xm").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L),
      "the cross-modal chain 1-2-3 keeps only its min id; 4 is untouched")
  }

  /** Small deterministic test image (the ImageOpsSpec fixture). */
  private def testGradient(w: Int, h: Int, dir: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val t = dir match {
        case 0 => x * 255 / math.max(1, w - 1)
        case 2 => y * 255 / math.max(1, h - 1)
        case _ => 255 - y * 255 / math.max(1, h - 1)
      }
      img.setRGB(x, y, (t << 16) | (t << 8) | t)
    }
    img
  }
  private def testPng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image_dedup transform drops perceptual image near-dups over real " +
    "decoded pixels, keeps distinct images AND undecodable payloads " +
    "(no perceptual information is no evidence of duplication)") {
    import spark.implicits._
    val base = testGradient(64, 64, 0)
    val patched = {
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try g.drawImage(base, 0, 0, null) finally g.dispose()
      for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0)
      img
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_imd").toString
    Seq(
      (1L, testPng(base)),
      (2L, testPng(patched)),            // perceptual near-dup of 1
      (3L, testPng(testGradient(64, 64, 2))), // distinct orientation
      (4L, "not an image".getBytes("UTF-8"))) // undecodable: survives
      .toDF("doc_id", "img").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("imd"), Seq(
      PipelineDef("imd", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          imageDedup = Some(ImageDedupDef("doc_id", "img"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("imd").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L),
      "2 collapses into 1; the distinct image and the undecodable row survive")
  }

  test("image_semantic_dedup transform drops the RESIZED variant (where " +
    "aHash bit drift can fail) via the grid-contrast embedding + " +
    "banded-LSH + exact-cosine stack, keeping min id per cluster") {
    import spark.implicits._
    val base = testGradient(64, 48, 0)
    val resizedPng = graft.operators.ImageOps.resizeImages(
      Seq(1L -> testPng(base)).toDF("doc_id", "img"),
      "doc_id", "img", 32, 24)
      .collect().head.getAs[Array[Byte]]("payload")
    val dir = java.nio.file.Files.createTempDirectory("graft_isd").toString
    Seq(
      (1L, testPng(base)),
      (2L, resizedPng),                        // semantic near-dup of 1
      (3L, testPng(testGradient(64, 48, 2))),  // distinct orientation
      (4L, "corrupt".getBytes("UTF-8")))       // undecodable: survives
      .toDF("doc_id", "img").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("isd"), Seq(
      PipelineDef("isd", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          imageSemanticDedup = Some(ImageSemanticDedupDef(
            "doc_id", "img", threshold = 0.99))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("isd").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L),
      "the resized variant collapses into its source; others survive")
  }

  test("decontaminate transform drops docs containing eval-registry text, " +
    "keeps docs with only incidental word overlap") {
    import spark.implicits._
    val evalQ = "what is the capital city of the republic of france and why " +
      "does it matter for the history of europe in the modern era"
    val dir = java.nio.file.Files.createTempDirectory("graft_dc").toString
    // the eval-set registry: a separate small table
    Seq((100L, evalQ)).toDF("bench_id", "bench_text")
      .write.mode("overwrite").parquet(s"$dir/bench")
    Seq(
      // verbatim eval question embedded in a training doc → contaminated
      (1L, s"intro words before $evalQ and some closing remarks after"),
      // shares a few common words, no verbatim run → kept
      (2L, "the capital of portugal is lisbon which is a city in europe"),
      // unrelated → kept (never even a stage-1 candidate)
      (3L, "completely different training document about cooking pasta well")
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("dc"), Seq(
      PipelineDef("dc", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          decontaminate = Some(DecontaminateDef(
            idField = "doc_id", textField = "text",
            benchPath = s"$dir/bench",
            benchIdField = "bench_id", benchTextField = "bench_text",
            minOverlapNgrams = 5, minContainment = 0.2))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("dc").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L, 3L)) // 1 contained the eval question
  }

  test("strip_dup_spans transform excises the borrowed passage, keeps the " +
    "novel remainder and untouched docs") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val dir = java.nio.file.Files.createTempDirectory("graft_sds").toString
    Seq(
      (1L, s"alpha opening $passage omega closing stanza"),
      (2L, s"beta prelude instead $passage coda differs totally"),
      (3L, "unrelated text with no borrowed passage at all in it here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("sds"), Seq(
      PipelineDef("sds", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          stripDupSpans = Some(StripDupSpansDef("doc_id", "text",
            maxDocsPerFp = 10))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("sds").df.get
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out.size === 3, "no doc is dropped — spans are cut, docs kept")
    assert(out(1L).contains("quick brown fox"), "owner keeps its text")
    assert(!out(2L).contains("quick brown fox"), s"borrower loses the passage: ${out(2L)}")
    assert(out(2L).startsWith("beta prelude instead"))
    assert(out(3L) === "unrelated text with no borrowed passage at all in it here")
  }

  test("near_dedup_registry transform drops docs near-duplicating the " +
    "historical corpus at history_path, keeps novel docs") {
    import spark.implicits._
    val histText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft_nr").toString
    Seq((100L, histText))
      .toDF("hid", "htext").write.mode("overwrite").parquet(s"$dir/hist")
    Seq(
      (1L, histText), // verbatim repeat of history → dropped
      (2L, "a wholly novel document with entirely fresh content here"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("nr"), Seq(
      PipelineDef("nr", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          nearDedupRegistry = Some(NearDedupRegistryDef(
            idField = "doc_id", textField = "text",
            historyPath = s"$dir/hist",
            historyIdField = "hid", historyTextField = "htext"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("nr").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(2L))
  }

  test("lang_filter and quality_filter transforms curate by predicted language and score") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cur").toString
    Seq(
      (1L, "the cat is in the house and it was warm today here now"), // en, decent
      (2L, "der hund ist nicht mit der katze zu hause heute"),        // de
      (3L, "xy")                                                      // junk
    ).toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("cur"), Seq(
      PipelineDef("cur", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          langFilter = Some(LangFilterDef("text", Seq("en"))),
          qualityFilter = Some(QualityFilterDef("text", 0.3))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("cur").df.get.select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L))
  }

  test("classifier_filter transform scores rows with the hashed-linear " +
    "model at weights_path and keeps only those clearing min, attaching " +
    "classifier_score") {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_clf").toString
    def bucket(w: String): Long =
      graft.functions.PolyHash.hashUtf8(UTF8String.fromString(w)) % 1024L
    val good = Seq("alpha", "beta", "gamma")
    val bad = Seq("noise", "junk", "spam")
    assert((good ++ bad).map(bucket).distinct.size === 6,
      "test words must hash to distinct buckets")
    (good.map(w => (bucket(w), 5000L)) ++ bad.map(w => (bucket(w), -5000L)))
      .toDF("bucket", "w").write.mode("overwrite").parquet(s"$dir/weights")
    Seq((1L, "alpha beta gamma"), (2L, "noise junk spam"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("clf"), Seq(
      PipelineDef("clf", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          classifierFilter = Some(ClassifierFilterDef(
            idField = "doc_id", textField = "text",
            weightsPath = s"$dir/weights", min = 0.5))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("clf").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    // logit = 3*5000/1000/3 = 5 → sigmoid(5) ≈ 0.993307
    assert(out.head.getAs[Double]("classifier_score") === 0.993307)
  }

  test("classifier_train transform trains on the seed sources and " +
    "gates every row on the trained score") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ctr").toString
    // separable seeds: 'curated' docs share one vocabulary, 'crawl'
    // docs another; the held-out rows (srcX) reuse those vocabularies
    val rows =
      (1L to 6L).map(i => (i, "curated", s"excellent thoughtful prose n$i")) ++
      (1L to 6L).map(i => (i + 10L, "crawl", s"spam casino jackpot n$i")) ++
      Seq((21L, "srcX", "excellent thoughtful prose held out"),
          (22L, "srcX", "spam casino jackpot held out"))
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("ct"), Seq(
      PipelineDef("ct", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          classifierTrain = Some(ClassifierTrainDef(
            idField = "doc_id", textField = "text",
            posSource = "curated", negSource = "crawl",
            nBuckets = 64, iters = 3, lrDen = 64L, min = 0.5))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("ct").df.get.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("classifier_score"))
      .toMap
    // hard sigmoid centers at 0.5: curated-vocabulary rows (incl. the
    // held-out 21) score above it, crawl-vocabulary rows drop
    assert(out.contains(21L), s"held-out curated-like doc must survive: $out")
    assert(!out.contains(22L), s"held-out crawl-like doc must drop: $out")
    assert((1L to 6L).forall(out.contains), "pos seeds survive")
    assert((11L to 16L).forall(i => !out.contains(i)), "neg seeds drop")
  }

  test("lm_filter transform trains the backoff LM on the reference " +
    "source and gates every row on bits-per-trigram") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lmf").toString
    val rows = Seq(
      (1L, "ref", "a b c d e a b c d e a b c d e"),
      (2L, "web", "a b c d e"),   // all trigrams seen in training
      (3L, "web", "z q x w v"),   // every word unseen: pure floor
      (4L, "web", "a b"))         // sub-trigram: no score, drops
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("lm"), Seq(
      PipelineDef("lm", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          lmFilter = Some(LmFilterDef(
            idField = "doc_id", textField = "text",
            srcField = "source", trainSource = "ref",
            threshBits = 2))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("lm").df.get.collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(out === Set(1L, 2L),
      s"fluent docs survive, the unseen-floor and sub-trigram docs drop: $out")
  }

  test("epoch_pack transform runs mix -> shuffle -> tokenize -> pack " +
    "from config and the packed long form reaches the sink") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_epk").toString
    val rows = (0 until 8).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de",
        s"alpha beta gamma delta w$i alpha beta")
    }
    rows.toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val ep = EpochPackDef(idField = "doc_id", textField = "text",
      budget = 8L, nShards = 2, salt = "e2e",
      mixField = Some("lang"), mixBudgetTokens = 100000L,
      temperature = 2.0, trainMerges = 2)
    val seq = SequenceDef("s", Seq("ep"), Seq(
      PipelineDef("ep", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          epochPack = Some(ep)),
        load = Some(LoadDef(s"$dir/out", formats = Seq("csv"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    // P8 column normalization alphabetizes after the transform chain
    val got = ctx.results("ep").df.get
      .select("shard", "seq_no", "seq_pos", "doc_id", "tid")
    // the config stage must equal the hand-composed dataflow exactly
    val docs = spark.read.parquet(s"$dir/docs")
    val merges = graft.operators.TextOps.bpeTrainLocal(docs, "text", 2)
    val picked = graft.operators.TextOps.temperatureMix(
      docs, "doc_id", "text",
      org.apache.spark.sql.functions.col("lang"), 100000L, 2.0)
    val sel = docs.join(picked.select("doc_id"), Seq("doc_id"))
    val order = graft.operators.TextOps.epochShuffle(
      sel.select("doc_id"), "doc_id", "e2e", 2)
    val expect = graft.operators.TextOps.packTokenIdsBy(
      sel, "doc_id", "text", 8L, order, merges)
      .collect().map(_.toSeq).toSet
    assert(got.collect().map(_.toSeq).toSet === expect)
    // token-exact packing: each shard's global positions are dense
    val byShard = got.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        r.getLong(1) * 8L + r.getLong(2)).sorted.toSeq)
    for ((s, ps) <- byShard)
      assert(ps === (0L until ps.length).toSeq,
        s"shard $s token positions must be dense from 0")
    // and the long form actually landed in the sink (distributed CSV
    // writes to <out>/<pattern>_csv; default pattern = {name}_output)
    val sunk = spark.read.option("header", "true")
      .csv(s"$dir/out/ep_output_csv")
    assert(sunk.count() === got.count())
  }

  test("epoch_pack curriculum layout from config: sequences land in " +
    "difficulty-band order, equal to the hand-composed range layout") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_epc").toString
    val rows = (0 until 12).map { i =>
      (i.toLong, ((i * 7) % 5).toDouble, s"alpha beta gamma w$i delta")
    }
    rows.toDF("doc_id", "difficulty", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("cp"), Seq(
      PipelineDef("cp", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          epochPack = Some(EpochPackDef(idField = "doc_id",
            textField = "text", budget = 4L, nShards = 3,
            layout = "curriculum_range",
            diffField = Some("difficulty")))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val got = ctx.results("cp").df.get
      .select("shard", "seq_no", "seq_pos", "doc_id", "tid")
      .collect().map(_.toSeq).toSet
    val docs = spark.read.parquet(s"$dir/docs")
    val order = graft.operators.TextOps.curriculumLayoutRange(
      docs.select("doc_id", "difficulty"), "doc_id", "difficulty", 3)
    val expect = graft.operators.TextOps.packTokenIdsBy(
      docs, "doc_id", "text", 4L, order)
      .collect().map(_.toSeq).toSet
    assert(got === expect)
    // a curriculum layout without the difficulty column fails loud
    val bad = SequenceDef("s", Seq("cp"), Seq(
      PipelineDef("cp", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          epochPack = Some(EpochPackDef(idField = "doc_id",
            textField = "text", layout = "curriculum"))))))
    val e = intercept[RuntimeException](
      Orchestrator.execute(spark, bad, unpersistOnEnd = false))
    assert(e.getMessage.contains("diff_field"))
  }

  test("gopher_filter transform keeps only rows passing every rule") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gph").toString
    val good = (Seq("the", "report", "that", "we", "have", "shared",
      "with") ++ (1 to 53).map(i => s"word${i % 7}x")).mkString(" ")
    val tooShort = "the short one that we have with"
    // a null id and a null text drop, as the old id semi-join dropped them
    Seq((Some(1L), Some(good)), (Some(2L), Some(tooShort)),
      (None, Some(good)), (Some(4L), None)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("g"), Seq(
      PipelineDef("g", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          gopherFilter = Some(GopherFilterDef(
            idField = "doc_id", textField = "text"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("g").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    // the gate is a plain filter: no report columns leak into the row
    assert(!out.head.schema.fieldNames.contains("keep"))
  }

  test("c4_clean transform rewrites the text field to surviving " +
    "segments and drops docs below min_segs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_c4c").toString
    val dirty = ((1 to 30).map(i => s"w$i") ++ Seq("lorem") ++
      (31 to 39).map(i => s"w$i")).mkString(" ") // 4 segs, one poisoned
    val tiny = (1 to 14).map(i => s"w$i").mkString(" ") // 1 full seg only
    Seq((1L, dirty), (2L, tiny)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("c"), Seq(
      PipelineDef("c", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          c4Clean = Some(C4CleanDef(idField = "doc_id",
            textField = "text"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("c").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    assert(out.head.getAs[String]("text") ===
      (1 to 30).map(i => s"w$i").mkString(" "))
  }

  test("repetition_filter transform drops docs tripping the Gopher " +
    "repetition battery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toString
    val clean = (1 to 60).map(i => s"uniq${i}w").mkString(" ")
    val spammy = (1 to 30).map(_ => "spam").mkString(" ")
    // a null id and a null text drop, as the old id semi-join dropped them
    Seq((Some(1L), Some(clean)), (Some(2L), Some(spammy)),
      (None, Some(clean)), (Some(4L), None)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("r"), Seq(
      PipelineDef("r", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          repetitionFilter = Some(RepetitionFilterDef(
            idField = "doc_id", textField = "text"))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("r").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
  }

  test("the curate chain evaluates its input once: gopher_filter, " +
    "repetition_filter, epoch_pack and the sink read each row once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val dir = java.nio.file.Files.createTempDirectory("graft_once").toString
    def good(i: Int) = "the report that we have shared with " +
      (1 to 53).map(w => s"d${i}w$w").mkString(" ")
    val texts = (0 until 12).map {
      case i if i % 6 == 4 => (1 to 30).map(_ => "the spam and").mkString(" ")
      case i if i % 6 == 5 => "the short one that we have with"
      case i => good(i)
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, ((i * 7) % 5).toDouble, t) }
      .toDF("doc_id", "difficulty", "raw")
      .write.mode("overwrite").parquet(s"$dir/docs")
    // Counts every evaluation of the input frame. Nondeterministic, so
    // the optimizer keeps it in its projection and never copies it into
    // a pushed-down predicate: the count is evaluations, not references.
    val evals = spark.sparkContext.longAccumulator("curate_evals")
    val tick = udf { (s: String) => evals.add(1L); s }.asNondeterministic()
    val docs = spark.read.parquet(s"$dir/docs")
    val input = docs.select(col("doc_id"), col("difficulty"),
      tick(col("raw")).as("text"))
    val p = PipelineDef("once", FileSource(s"$dir/docs"),
      transform = TransformDef(addProcessedFlags = false,
        gopherFilter = Some(GopherFilterDef("doc_id", "text")),
        repetitionFilter = Some(RepetitionFilterDef("doc_id", "text")),
        epochPack = Some(EpochPackDef(idField = "doc_id", textField = "text",
          budget = 16L, nShards = 3, trainMerges = 4,
          layout = "curriculum_range", diffField = Some("difficulty")))))
    val ctx = new graft.engine.RunContext("once")
    val (out, intermediate) = Orchestrator.transform(spark, p, ctx, input)
    graft.sinks.Sinks.write(spark, out, intermediate,
      LoadDef(s"$dir/out", formats = Seq("csv")), p.name, ctx.executionId)
    ctx.unpersistAll()
    assert(evals.value > 0L && evals.value <= texts.size.toLong,
      s"${evals.value} evaluations of ${texts.size} input rows")
    // and the gates kept exactly the good docs, packed as by hand
    val kept = docs.filter(col("doc_id") % 6 < 4).withColumnRenamed("raw", "text")
    val merges = graft.operators.TextOps.bpeTrainLocal(kept, "text", 4)
    val order = graft.operators.TextOps.curriculumLayoutRange(
      kept.select("doc_id", "difficulty"), "doc_id", "difficulty", 3)
    val expect = graft.operators.TextOps.packTokenIdsBy(
      kept, "doc_id", "text", 16L, order, merges)
    val sunk = spark.read.option("header", "true")
      .csv(s"$dir/out/once_output_csv")
      .select(expect.schema.map(f => col(f.name).cast(f.dataType)): _*)
    assert(sunk.collect().map(_.toSeq).toSet ===
      expect.collect().map(_.toSeq).toSet)
  }

  test("each rereading curation stage evaluates its input at most twice " +
    "per row, alone and in the chain near_dedup -> c4_clean -> " +
    "classifier_train") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    val dir = java.nio.file.Files.createTempDirectory("graft_evals").toString
    val sources = Seq("curated", "crawl", "web")
    def body(i: Int) = "the report that we have shared with " + (i % 3 match {
      case 0 => "excellent thoughtful prose "
      case 1 => "spam casino jackpot "
      case _ => ""
    }) + (1 to 53).map(w => s"d${i}w$w").mkString(" ")
    // every eighth doc is a one-word edit of the one before it
    val rows = (0 until 24).map { i =>
      val text = if (i % 8 == 7) body(i - 1).replace(s"d${i - 1}w9 ", "zz ") else body(i)
      (i.toLong, sources(i % 3), text)
    }
    rows.toDF("doc_id", "source", "raw").write.mode("overwrite").parquet(s"$dir/docs")
    Seq(body(1), body(4)).toDF("text").write.mode("overwrite").parquet(s"$dir/target")
    val nearDedup = Some(NearDedupDef("doc_id", "text"))
    val c4Clean = Some(C4CleanDef("doc_id", "text"))
    val classifierTrain = Some(ClassifierTrainDef(idField = "doc_id",
      textField = "text", posSource = "curated", negSource = "crawl",
      nBuckets = 64, iters = 3, lrDen = 64L, min = 0.0))
    val t = TransformDef(addProcessedFlags = false)
    val cases = Seq(
      "gopher_filter" -> t.copy(gopherFilter = Some(GopherFilterDef("doc_id", "text"))),
      "c4_clean" -> t.copy(c4Clean = c4Clean),
      "near_dedup" -> t.copy(nearDedup = nearDedup),
      "winnow_dedup" -> t.copy(winnowDedup = Some(WinnowDedupDef("doc_id", "text"))),
      "dsir_select" -> t.copy(dsirSelect = Some(DsirSelectDef(idField = "doc_id",
        textField = "text", targetPath = s"$dir/target", nBuckets = 64, k = 12))),
      "lm_filter" -> t.copy(lmFilter = Some(LmFilterDef(idField = "doc_id",
        textField = "text", srcField = "source", trainSource = "curated",
        threshBits = 30))),
      "classifier_train" -> t.copy(classifierTrain = classifierTrain),
      "near_dedup -> c4_clean -> classifier_train" -> t.copy(
        nearDedup = nearDedup, c4Clean = c4Clean, classifierTrain = classifierTrain))
    val docs = spark.read.parquet(s"$dir/docs")
    cases.zipWithIndex.foreach { case ((name, transform), i) =>
      // the counting UDF of the test above
      val evals = spark.sparkContext.longAccumulator(s"evals_$i")
      val tick = udf { (s: String) => evals.add(1L); s }.asNondeterministic()
      val input = docs.select(col("doc_id"), col("source"), tick(col("raw")).as("text"))
      val p = PipelineDef(s"evals$i", FileSource(s"$dir/docs"), transform = transform)
      val ctx = new graft.engine.RunContext("evals")
      val (out, intermediate) = Orchestrator.transform(spark, p, ctx, input)
      graft.sinks.Sinks.write(spark, out, intermediate,
        LoadDef(s"$dir/out$i", formats = Seq("csv")), p.name, ctx.executionId)
      ctx.unpersistAll()
      assert(evals.value > 0L && evals.value <= 2L * rows.size,
        s"$name: ${evals.value} evaluations of ${rows.size} input rows")
    }
  }

  test("the stage table names every curation field of TransformDef " +
    "exactly once, in field order, by the key that configures it") {
    // every Option field of TransformDef except these is a curation stage
    val notStages = Set("lookup", "intermediate", "validation")
    val default = TransformDef()
    val fields = default.productElementNames.zip(default.productIterator)
      .collect { case (f, None) if !notStages(f) => f }.toSeq
    // a table holding every required key any stage reads
    val req: Map[String, Any] = Seq("id_field", "text_field", "payload_field",
      "field", "history_path", "bench_path", "bench_id_field",
      "bench_text_field", "weights_path", "pos_source", "neg_source",
      "src_field", "train_source", "target_path", "strata_field")
      .map(_ -> "x").toMap
    val configured = Orchestrator.Stages.map { s =>
      val t = TableDecoder.transform(Map(s.name -> req), default)
      val set = default.productElementNames.zip(t.productIterator)
        .collect { case (f, Some(_)) => f }.toSeq
      assert(set.size === 1, s"${s.name} configures $set")
      assert(Orchestrator.Stages.filter(_.body(t).nonEmpty).map(_.name) === Seq(s.name),
        s"only ${s.name} runs when ${s.name} alone is configured")
      set.head
    }
    assert(configured === fields)
  }

  test("per-row gates plan their kernels once: a pushed-down gate copies " +
    "neither the coverage kernel nor an upstream text rewrite per reference") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gplan").toString
    Seq((1L, "alpha beta gamma delta"), (2L, "one two three four five"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    def optimizedPlan(t: TransformDef): String = {
      val p = filePipeline("g", s"$dir/docs", t)
      val ctx = new graft.engine.RunContext("plan")
      Orchestrator.transform(spark, p, ctx, Orchestrator.extract(spark, p, ctx))
        ._1.queryExecution.optimizedPlan.toString
    }
    def mentions(plan: String, name: String): Int =
      s"\\Q$name\\E".r.findAllMatchIn(plan).size
    val rep = Some(RepetitionFilterDef("doc_id", "text"))
    val c4Rep = optimizedPlan(TransformDef(addProcessedFlags = false,
      c4Clean = Some(C4CleanDef("doc_id", "text")), repetitionFilter = rep))
    assert(mentions(c4Rep, "graft_gopher_rep_coverage") === 1, c4Rep)
    // the semi-join gate named the kernel 9 times and the C4 kernel 21
    assert(mentions(c4Rep, "graft_c4_clean") <= 21, c4Rep)
    val cleanGates = optimizedPlan(TransformDef(addProcessedFlags = false,
      cleanText = true, gopherFilter = Some(GopherFilterDef("doc_id", "text")),
      repetitionFilter = rep))
    // the semi-join gates named it 110 times
    assert(mentions(cleanGates, "regexp_replace") <= 110, cleanGates)
  }

  test("dsir_select transform keeps the top-k docs by importance " +
    "against the target corpus, attaching dsir_score") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsr").toString
    Seq("physics quark neutron the of", "physics boson lattice the of")
      .toDF("text").write.mode("overwrite").parquet(s"$dir/target")
    Seq((1L, "physics quark paper the of"),
      (2L, "recipe butter sugar the of"),
      (3L, "recipe oven flour the of"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("d"), Seq(
      PipelineDef("d", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          dsirSelect = Some(DsirSelectDef(
            idField = "doc_id", textField = "text",
            targetPath = s"$dir/target", nBuckets = 64, k = 1))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("d").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L),
      "the physics doc must win under the physics target")
    assert(out.head.schema.fieldNames.contains("dsir_score"))
  }

  test("dsir_select reads a csv target corpus by its header row, like " +
    "every other side table") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dsrcsv").toString
    Seq("physics quark neutron the of", "physics boson lattice the of")
      .toDF("body").write.option("header", "true").csv(s"$dir/target")
    Seq((1L, "recipe butter sugar the of"),
      (2L, "physics quark paper the of"),
      (3L, "recipe oven flour the of"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("d"), Seq(
      PipelineDef("d", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          dsirSelect = Some(DsirSelectDef(
            idField = "doc_id", textField = "text",
            targetPath = s"$dir/target", targetFormat = "csv",
            targetTextField = Some("body"), nBuckets = 64, k = 1))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    assert(ctx.results("d").status === "succeeded", ctx.results("d").error)
    val out = ctx.results("d").df.get.collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(2L),
      "the physics doc must win under the physics target")
  }

  test("transform.sample: config-level stratified sampling keeps the " +
    "deterministic per-stratum subset") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_smp").toString
    (1L to 300L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang").write.mode("overwrite").parquet(s"$dir/docs")
    val seq = SequenceDef("s", Seq("smp"), Seq(
      PipelineDef("smp", FileSource(s"$dir/docs"),
        transform = TransformDef(addProcessedFlags = false,
          sample = Some(SampleDef("doc_id", "lang",
            rates = Map("en" -> 1.0), defaultRate = 0.0))))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val kept = ctx.results("smp").df.get
      .select("doc_id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.length === 100, "en fully kept, de fully dropped")
    assert(kept.forall(_._2 == "en"))
    // same config re-run → identical sample (hash, not RNG)
    val again = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
      .results("smp").df.get.select("doc_id").collect().map(_.getLong(0))
    assert(again.sorted.toSeq === kept.map(_._1).sorted.toSeq)
  }

  // ----- X3 wiring: record_index determinism over fan-out --------------
  test("X3: record_index on a fan-out source is stable across materializations " +
    "and fires each HTTP call exactly once") {
    val ids = fixture(Seq("""{"pid":1}""", """{"pid":2}""", """{"pid":3}"""), "fanids")
    val rec = new TestHttp.Recorded
    TestHttp.withServer("/item" -> { ex =>
      rec.synchronized { rec.calls += 1 }
      val pid = ex.getRequestURI.getPath.split('/').last
      TestHttp.respond(ex, 200, s"""[{"pid":$pid,"val":"v$pid"}]""")
    }) { base =>
      val seq = SequenceDef("s", Seq("ids", "fan"), Seq(
        filePipeline("ids", ids),
        PipelineDef("fan",
          ParameterizedApiSource(HttpRequestDef(s"$base/item/{pid}")),
          transform = TransformDef(addProcessedFlags = false,
            computedFields = Map("idx" -> "record_index"),
            recordIndexOrderBy = Seq("pid")))))
      val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
      val df = ctx.results("fan").df.get
      def snap() = df.select("pid", "idx").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val first = snap()
      assert(first === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
      assert(snap() === first) // second materialization: identical indices
      // schema inference + sizing pass + two collects would have been 4
      // full passes = 12 calls without the fan-out checkpoint pin
      assert(rec.calls === 3)
    }
  }

  // ----- schema evolution through FileSource options --------------------
  test("FileSource options pass through: mergeSchema unions evolved parquet schemas") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v1")
      .write.mode("overwrite").parquet(s"$dir/data/gen=1")
    Seq((2L, 9.5)).toDF("id", "v2")
      .write.mode("overwrite").parquet(s"$dir/data/gen=2")
    val seq = SequenceDef("s", Seq("ev"), Seq(
      PipelineDef("ev",
        FileSource(s"$dir/data", options = Map(
          "mergeSchema" -> "true", "recursiveFileLookup" -> "true")),
        transform = TransformDef(addProcessedFlags = false))))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    val out = ctx.results("ev").df.get
    assert(out.columns.sorted.toSeq === Seq("id", "v1", "v2"))
    assert(out.count() === 2)
  }

  // ----- transform.validation (declared-but-dead in reference) ---------
  test("validation: missing required field / out-of-bounds count fail the pipeline; " +
    "a passing config does not") {
    val p = fixture(Seq("""{"id":1,"name":"a"}""", """{"id":2,"name":"b"}"""), "val")
    def seqWith(v: ValidationDef) = SequenceDef("s", Seq("p"), Seq(
      filePipeline("p", p,
        transform = TransformDef(addProcessedFlags = false, validation = Some(v)))),
      onPipelineFailure = "continue")
    assert(Orchestrator.execute(spark,
      seqWith(ValidationDef(requiredFields = Seq("id", "name"),
        minRecords = Some(1), maxRecords = Some(10))))
      .results("p").status === "succeeded")
    val missing = Orchestrator.execute(spark,
      seqWith(ValidationDef(requiredFields = Seq("id", "ghost"))))
    assert(missing.results("p").status === "failed")
    assert(missing.results("p").error.get.contains("ghost"))
    val tooFew = Orchestrator.execute(spark,
      seqWith(ValidationDef(minRecords = Some(5))))
    assert(tooFew.results("p").status === "failed")
    assert(tooFew.results("p").error.get.contains("min_records"))
  }

  test("a retry releases the failed attempt's pins; a rereading stage's pin is a " +
    "checkpoint, not a cache") {
    val p = fixture(Seq("""{"doc_id":1,"text":"a b c d e"}""",
      """{"doc_id":2,"text":"v w x y z"}"""), "retry_pins")
    val seq = SequenceDef("s", Seq("p"), Seq(filePipeline("p", p,
      transform = TransformDef(addProcessedFlags = false,
        nearDedup = Some(NearDedupDef("doc_id", "text")),
        validation = Some(ValidationDef(minRecords = Some(5)))))),
      onPipelineFailure = "continue", retryAttempts = 2)
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    try {
      assert(ctx.results("p").error.exists(_.contains("min_records")))
      // the last of 3 attempts: near_dedup's input and the counted output
      val Seq(stageIn, out) = ctx.persisted.toSeq
      assert(org.apache.spark.sql.graftbridge.StorageBridge.checkpointed(stageIn).nonEmpty)
      assert(out.storageLevel.useMemory)
    } finally ctx.unpersistAll()
  }

  // ----- lazy materialization -----------------------------------------
  test("a pipeline with no sink, no conditions, no export triggers zero Spark jobs") {
    val p = fixture(Seq("""{"id":1}""", """{"id":2}"""), "lazy")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Baseline: parquet schema inference alone may run one footer-read
      // job; the pipeline must add NOTHING beyond it (no persist/count).
      Thread.sleep(300) // let prior suites' listener events drain
      jobs.set(0)
      spark.read.parquet(p).schema
      Thread.sleep(500)
      val baseline = jobs.get()
      jobs.set(0)
      val ctx = Orchestrator.execute(spark, SequenceDef("s", Seq("noop"), Seq(
        filePipeline("noop", p))))
      Thread.sleep(500) // listener events post asynchronously
      assert(jobs.get() <= baseline,
        s"lazy pipeline must not run jobs beyond schema inference (baseline=$baseline)")
      // forcing the count is the caller's explicit choice
      assert(ctx.results("noop").recordCount === 2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("records_count equals count() for every sink kind; a frame one " +
    "distributed write reads is neither pinned nor counted again") {
    val p = fixture((1 to 9).map(i => s"""{"id":$i,"v":${i * 10}}"""), "rc")
    val out = java.nio.file.Files.createTempDirectory("graft_rc").toString
    // a filter, so the count is the transform's, not the input's; the
    // processed flags carry the pipeline name, so no two plans match one
    // cache
    def pipe(name: String, load: Option[LoadDef]): PipelineDef =
      filePipeline(name, p, TransformDef(addProcessedFlags = true)).copy(
        extract = ExtractDef(filters = Map("v" -> Seq(20L, 40L, 60L, 70L))),
        load = load)
    val seq = SequenceDef("s",
      Seq("distributed", "multi", "zipped", "single", "noload"), Seq(
        pipe("distributed", Some(LoadDef(s"$out/d", formats = Seq("json")))),
        pipe("multi", Some(LoadDef(s"$out/m", formats = Seq("csv", "parquet")))),
        pipe("zipped", Some(LoadDef(s"$out/z", formats = Seq("csv", "json"),
          zip = true))),
        pipe("single", Some(LoadDef(s"$out/s", formats = Seq("tsv"),
          singleFile = true))),
        pipe("noload", None)))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    try {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      val observed = ctx.results("distributed").recordCount
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      assert(jobs.get() === 0, "the distributed sink's pass already counted its rows")
      assert(observed === 4)
      assert(ctx.results("distributed").df.get.storageLevel ===
        org.apache.spark.storage.StorageLevel.NONE)
      for (name <- seq.executionOrder) {
        val o = ctx.results(name)
        assert(o.status === "succeeded", s"$name: ${o.error}")
        assert(o.recordCount === o.df.get.count(), name)
        assert(Orchestrator.metricsJson(ctx)
          .contains(s""""name":"$name","duration_ms""""))
      }
      assert(Orchestrator.metricsJson(ctx).contains(""""total_records":20"""))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      ctx.unpersistAll()
    }
  }

  // ----- W7/A1: metrics shape -----------------------------------------
  test("W7: metricsJson carries per-pipeline rows and A1 summary math") {
    val p = fixture(Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""), "m")
    val seq = SequenceDef("s", Seq("one", "two"), Seq(
      filePipeline("one", p), filePipeline("two", p)))
    val ctx = Orchestrator.execute(spark, seq, executionId = "exec-m")
    val json = Orchestrator.metricsJson(ctx)
    assert(json.contains(""""execution_id":"exec-m""""))
    assert(json.contains(""""total_pipelines":2"""))
    assert(json.contains(""""total_records":6"""))
    assert(json.contains(""""name":"one""""))
    assert(json.contains(""""status":"succeeded""""))
  }

  // ----- C6: dry run ---------------------------------------------------
  test("C6: dry run renders the plan without executing") {
    val seq = SequenceDef("s", Seq("a", "b"), Seq(
      filePipeline("a", "/data/a"),
      filePipeline("b", "/data/b").copy(dependencies = Seq("a"),
        load = Some(LoadDef("/out", formats = Seq("csv", "json"))))))
    val plan = Orchestrator.dryRun(seq)
    assert(plan.contains("execution_order: a -> b"))
    assert(plan.contains("deps=a"))
    assert(plan.contains("/out (csv/json)"))
  }
}

/** A file commit protocol whose job commit always fails: a distributed
  * write that runs every task and then dies. */
class RefusingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: org.apache.hadoop.mapreduce.JobContext,
      taskCommits: Seq[org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage]): Unit =
    throw new java.io.IOException("job commit refused")
}
