package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

/** TOML front-end: the minimal parser plus the reference-layout adapter
  * (reference config: configs/sequence-example.toml, parser surface
  * src/config/sequence_config.rs:8-276). The end-to-end test runs a
  * 4-pipeline sequence shaped exactly like the reference example —
  * api → merged-api → previous → combined+zip — against a local HTTP
  * stub, producing the reference's sequence_metrics shape. */
class TomlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ----- parser ------------------------------------------------------
  test("parser: tables, arrays of tables, dotted/quoted keys, scalars") {
    val doc = Toml.parse(
      """# top comment
        |title = "root"
        |n = 42
        |neg = -7
        |pi = 3.5
        |flag = true
        |off = false
        |[a.b]
        |k = 'literal'
        |"User-Agent" = "ETL/1.0"
        |[[items]]
        |name = "first"
        |tags = ["x", "y",
        |        "z"]   # multiline array + comment
        |[[items]]
        |name = "second"
        |inline = { id = "i1", count = 2 }
        |""".stripMargin)
    assert(doc("title") === "root")
    assert(doc("n") === 42L && doc("neg") === -7L && doc("pi") === 3.5)
    assert(doc("flag") === true && doc("off") === false)
    val ab = doc("a").asInstanceOf[Map[String, Any]]("b").asInstanceOf[Map[String, Any]]
    assert(ab("k") === "literal")
    assert(ab("User-Agent") === "ETL/1.0")
    val items = doc("items").asInstanceOf[Vector[Map[String, Any]]]
    assert(items.map(_("name")) === Vector("first", "second"))
    assert(items(0)("tags") === Vector("x", "y", "z"))
    assert(items(1)("inline") === Map("id" -> "i1", "count" -> 2L))
  }

  // ----- parser fuzz (SinksSpec X4-fuzz pattern) ----------------------
  test("parser fuzz: 150 generated docs with nasty strings, nested arrays " +
    "and inline tables round-trip to the expected structure") {
    val rnd = new scala.util.Random(7) // deterministic corpus
    // chars only — the surrogate-pair emoji goes in whole below
    val alphabet = "abXY01 _-.,#=[]{}\"'\\\t\né世".toCharArray
    def genStr(): String = {
      val base = Iterator.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      if (rnd.nextInt(4) == 0) base + "😀" else base
    }
    def genScalar(): Any = rnd.nextInt(4) match {
      case 0 => genStr()
      case 1 => rnd.nextLong() % 100000L
      case 2 => (rnd.nextInt(4001) - 2000) * 0.25 // exact in toString/toDouble
      case 3 => rnd.nextBoolean()
    }
    def genValue(depth: Int): Any =
      if (depth == 0) genScalar()
      else rnd.nextInt(6) match {
        case 0 => Vector.fill(rnd.nextInt(4))(genValue(depth - 1))
        case 1 => (0 until rnd.nextInt(4)).map(i => s"ik$i" -> genValue(depth - 1)).toMap
        case _ => genScalar()
      }
    // TOML basic-string escape — the renderer half of the round trip
    def esc(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def render(v: Any): String = v match {
      case s: String => esc(s)
      case xs: Vector[_] => xs.map(render).mkString("[", ", ", "]")
      case m: Map[_, _] =>
        m.map { case (k, x) => s"$k = ${render(x)}" }.mkString("{ ", ", ", " }")
      case other => other.toString
    }
    (1 to 150).foreach { docIdx =>
      val top = (0 until 3).map(i => s"k$i" -> genValue(2))
      val quotedKey = genStr()
      val sec = (0 until 3).map(i => s"s$i" -> genValue(2))
      val arrElems = Vector.fill(2)((0 until 2).map(i => s"a$i" -> genValue(1)).toMap)
      val quotedVal = genScalar()
      val text = new StringBuilder
      top.foreach { case (k, v) => text ++= s"$k = ${render(v)}\n" }
      text ++= s"${esc(quotedKey)} = ${render(quotedVal)}\n"
      text ++= "[sec]\n"
      sec.foreach { case (k, v) => text ++= s"$k = ${render(v)}\n" }
      arrElems.foreach { m =>
        text ++= "[[arr]]\n"
        m.foreach { case (k, v) => text ++= s"$k = ${render(v)}\n" }
      }
      val expected = top.toMap +
        (quotedKey -> quotedVal) + ("sec" -> sec.toMap) + ("arr" -> arrElems)
      val got = Toml.parse(text.toString)
      assert(got === expected, s"doc #$docIdx diverged:\n$text")
    }
  }

  test("parser fuzz: malformed docs are rejected with the right line number") {
    val rejects = Seq(
      ("a = 1\nb = \"oops", 2, "unterminated"),
      ("a = 1 junk", 1, "trailing"),
      ("[t\nk = 1", 1, "expected ']'"),
      ("k = \"bad\\q\"", 1, "unsupported escape"),
      ("a = 1\nb = 'no end", 2, "unterminated literal"),
      ("a = 1\n\n[t]\nk =", 4, "expected value"),
      ("k = @", 1, "unexpected value start"))
    rejects.foreach { case (doc, line, frag) =>
      val e = intercept[Toml.TomlParseException](Toml.parse(doc))
      assert(e.msg.contains(frag), s"wrong message for <$doc>: ${e.msg}")
      assert(e.line === line, s"wrong line for <$doc>: got ${e.line}, want $line")
    }
  }

  test("[performance].request_timeout is the config-wide HTTP timeout default; " +
    "a source-level timeout_seconds still wins") {
    val seq = TomlConfig.loadSequence(
      """[pipeline]
        |name = "p"
        |[source]
        |endpoint = "https://api.example.com/items"
        |[performance]
        |request_timeout = 77
        |""".stripMargin, env = Map.empty)
    val ApiSource(http) = seq.pipelines.head.source: @unchecked
    assert(http.timeoutSeconds === 77)
    val seq2 = TomlConfig.loadSequence(
      """[sequence]
        |name = "s"
        |[[pipelines]]
        |name = "a"
        |[pipelines.source]
        |endpoint = "https://api.example.com/items"
        |timeout_seconds = 9
        |[performance]
        |request_timeout = 77
        |""".stripMargin, env = Map.empty)
    val ApiSource(http2) = seq2.pipelines.head.source: @unchecked
    assert(http2.timeoutSeconds === 9, "explicit source timeout wins")
  }

  test("inert [performance] knobs warn with the Spark-side equivalent " +
    "instead of being silently ignored") {
    val warnings = scala.collection.mutable.ArrayBuffer.empty[String]
    val prev = TomlConfig.warnSink
    TomlConfig.warnSink = warnings += _
    try {
      TomlConfig.loadSequence(
        """[pipeline]
          |name = "p"
          |[source]
          |endpoint = "https://api.example.com/items"
          |[performance]
          |memory_limit_mb = 512
          |disk_cache_enabled = true
          |""".stripMargin, env = Map.empty)
      assert(warnings.exists(w => w.contains("memory_limit_mb")
        && w.contains("spark.executor.memory")),
        s"memory knob must name the Spark equivalent: $warnings")
      assert(warnings.exists(w => w.contains("disk_cache_enabled")
        && w.contains("MEMORY_AND_DISK")),
        s"cache knob must name the Spark equivalent: $warnings")
      warnings.clear()
      TomlConfig.loadSequence(
        """[pipeline]
          |name = "p"
          |[source]
          |endpoint = "https://api.example.com/items"
          |[performance]
          |request_timeout = 30
          |""".stripMargin, env = Map.empty)
      assert(warnings.isEmpty,
        s"the honestly-mapped knob must not warn: $warnings")
    } finally TomlConfig.warnSink = prev
  }

  test("parser: string escapes and key-vals after an array-of-tables header") {
    val doc = Toml.parse(
      """[[p]]
        |s = "line1\nline2\t\"q\" \\ A"
        |[p.sub]
        |x = 1
        |""".stripMargin)
    val p0 = doc("p").asInstanceOf[Vector[Map[String, Any]]].head
    assert(p0("s") === "line1\nline2\t\"q\" \\ A")
    // [p.sub] after [[p]] attaches to the LAST array element
    assert(p0("sub") === Map("x" -> 1L))
  }

  test("parser: errors carry line numbers") {
    val e = intercept[Toml.TomlParseException](Toml.parse("ok = 1\nbad = @"))
    assert(e.line === 2)
  }

  // ----- adapter -----------------------------------------------------
  test("adapter: reference field layout maps onto the SequenceDef model") {
    val seq = TomlConfig.loadSequence(
      """[sequence]
        |name = "s"
        |execution_order = ["a", "b"]
        |[global.shared_variables]
        |base = "http://h"
        |[error_handling]
        |on_pipeline_failure = "continue"
        |retry_attempts = 2
        |retry_delay_seconds = 10
        |[[pipelines]]
        |name = "a"
        |enabled = true
        |[pipelines.source]
        |type = "api"
        |endpoint = "${base}/posts"
        |timeout_seconds = 20
        |[pipelines.source.headers]
        |"User-Agent" = "ETL/1.0"
        |[pipelines.extract]
        |max_records = 10
        |[pipelines.extract.field_mapping]
        |id = "post_id"
        |[pipelines.extract.data_processing]
        |deduplicate_fields = ["post_id"]
        |sort_by = "post_id"
        |[pipelines.transform.operations]
        |clean_text = true
        |trim_whitespace = true
        |normalize_fields = ["t"]
        |[pipelines.load]
        |output_path = "/out"
        |output_formats = ["json", "csv"]
        |[pipelines.load.compression]
        |enabled = true
        |include_metadata = true
        |[[pipelines]]
        |name = "b"
        |dependencies = ["a"]
        |[pipelines.source]
        |type = "previous"
        |[pipelines.source.data_source]
        |from_pipeline = "a"
        |[pipelines.conditions]
        |when_previous_succeeded = true
        |skip_if_empty = true
        |[pipelines.conditions.when_records_count]
        |min = 1
        |from_pipeline = "a"
        |""".stripMargin, env = Map.empty)
    assert(seq.onPipelineFailure === "continue")
    assert(seq.retryAttempts === 2 && seq.retryDelayMs === 10000L)
    val a = seq.pipelines(0)
    val http = a.source.asInstanceOf[ApiSource].http
    assert(http.endpoint === "http://h/posts") // ${base} shared-var pass
    assert(http.headers === Map("User-Agent" -> "ETL/1.0"))
    assert(http.timeoutSeconds === 20)
    assert(a.extract.fieldMapping === Map("id" -> "post_id"))
    assert(a.extract.processing.deduplicateFields === Seq("post_id"))
    assert(a.transform.cleanText && a.transform.trimWhitespace)
    assert(a.transform.normalizeFields === Seq("t"))
    val load = a.load.get
    assert(load.formats === Seq("json", "csv"))
    assert(load.zip && load.includeMetadata)
    assert(load.singleFile) // reference parity: one file per format
    val b = seq.pipelines(1)
    assert(b.source === PreviousSource(Some("a")))
    assert(b.conditions.whenPreviousSucceeded && b.conditions.skipIfEmpty)
    assert(b.conditions.whenRecordsCount.get.min === Some(1L))
  }

  test("adapter: [load.filenames] gives per-format names (W9)") {
    val seq = TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |[pipelines.load]
        |output_path = "/out"
        |output_formats = ["csv", "json"]
        |[pipelines.load.filenames]
        |csv = "items.csv"
        |json = "items.json"
        |""".stripMargin, env = Map.empty)
    assert(seq.pipelines.head.load.get.filenames ===
      Map("csv" -> "items.csv", "json" -> "items.json"))
  }

  test("adapter: [monitoring] and [pipelines.transform.validation] map through") {
    val seq = TomlConfig.loadSequence(
      """[monitoring]
        |enabled = true
        |export_metrics = true
        |metrics_file = "sequence_metrics.json"
        |[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |[pipelines.transform.validation]
        |required_fields = ["post_id", "post_title"]
        |min_records = 1
        |max_records = 50
        |""".stripMargin, env = Map.empty)
    assert(seq.monitoringEnabled)
    assert(seq.metricsFile === Some("sequence_metrics.json"))
    val v = seq.pipelines.head.transform.validation.get
    assert(v.requiredFields === Seq("post_id", "post_title"))
    assert(v.minRecords === Some(1L) && v.maxRecords === Some(50L))
  }

  test("adapter: api + use_previous_data_as_params / {param} endpoint fan out; " +
    "merge_with_api merges") {
    val seq = TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "fan"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/item/{id}"
        |[pipelines.source.data_source]
        |use_previous_output = true
        |[[pipelines]]
        |name = "payload_fan"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/post"
        |method = "POST"
        |[pipelines.source.payload]
        |body = "{\"q\": \"{{id}}\"}"
        |use_previous_data_as_params = true
        |[[pipelines]]
        |name = "merged"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/users"
        |[pipelines.source.data_source]
        |use_previous_output = true
        |merge_with_api = true
        |""".stripMargin, env = Map.empty)
    assert(seq.pipelines(0).source.isInstanceOf[ParameterizedApiSource])
    val pf = seq.pipelines(1).source.asInstanceOf[ParameterizedApiSource]
    assert(pf.http.payload === Some("""{"q": "{{id}}"}"""))
    assert(seq.pipelines(2).source.isInstanceOf[MergedApiSource])
  }

  test("shipped configs/sequence-example.toml parses, validates and dry-runs") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("configs/sequence-example.toml"))
    val seq = TomlConfig.loadSequence(text, env = Map.empty)
    assert(seq.pipelines.map(_.name) === Seq(
      "data-extraction", "data-enrichment", "data-aggregation", "final-export"))
    val plan = graft.engine.Orchestrator.dryRun(seq)
    assert(plan.contains(
      "data-extraction -> data-enrichment -> data-aggregation -> final-export"))
  }

  // ----- single-pipeline layout (toml_etl / MVP) ----------------------
  test("single-pipeline MVP layout runs one pipeline end-to-end: " +
    "first record only, zip named by compression.filename") {
    TestHttp.withServer("/posts" -> (TestHttp.respond(_, 200,
      """[{"id":1,"title":"t1"},{"id":2,"title":"t2"},{"id":3,"title":"t3"}]"""))
    ) { base =>
      val dir = java.nio.file.Files.createTempDirectory("graft_mvp").toString
      val toml =
        s"""# MVP single-pipeline config (reference configs/mvp-simple.toml shape)
           |[pipeline]
           |name = "mvp-simple"
           |description = "MVP mode - process only first record"
           |version = "1.0.0"
           |
           |[source]
           |type = "api"
           |endpoint = "$base/posts"
           |timeout_seconds = 10
           |
           |[extract]
           |first_record_only = true
           |max_records = 1
           |
           |[transform]
           |
           |[error_handling]
           |on_api_failure = "fail"
           |
           |[load]
           |output_path = "$dir"
           |output_formats = ["csv", "json"]
           |
           |[load.compression]
           |enabled = true
           |filename = "mvp_output.zip"
           |""".stripMargin
      val seq = TomlConfig.loadSequence(toml, env = Map.empty)
      assert(seq.pipelines.map(_.name) === Seq("mvp-simple"))
      assert(seq.pipelines.head.extract.firstRecordOnly)
      assert(seq.pipelines.head.extract.onApiFailure === "fail")
      val code = Main.run(spark, seq, Main.Args("mvp.toml",
        executionId = Some("exec-mvp"), metricsOut = Some(s"$dir/m.json")))
      assert(code === 0)
      val zipPath = java.nio.file.Paths.get(s"$dir/mvp_output.zip")
      assert(java.nio.file.Files.exists(zipPath))
      val zf = new java.util.zip.ZipFile(zipPath.toFile)
      try {
        import scala.jdk.CollectionConverters._
        val entries = zf.entries().asScala.map(e => e.getName).toSet
        assert(entries.exists(_.endsWith(".csv")) && entries.exists(_.endsWith(".json")))
        val json = new String(zf.getInputStream(
          zf.getEntry(entries.find(_.endsWith(".json")).get)).readAllBytes())
        assert(json.contains(""""id":1""") && !json.contains(""""id":2"""))
      } finally zf.close()
    }
  }

  test("--mvp flag overrides first_record_only like the reference toml_etl") {
    val a = Main.parseArgs(Array("cfg.toml", "--mvp"))
    assert(a.mvp === Some(true))
    val seq = TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |""".stripMargin, env = Map.empty)
    assert(!seq.pipelines.head.extract.firstRecordOnly)
    assert(Main.applyMvp(seq, Some(true)).pipelines.head.extract.firstRecordOnly)
    assert(!Main.applyMvp(
      Main.applyMvp(seq, Some(true)), Some(false)).pipelines.head.extract.firstRecordOnly)
  }

  // ----- lambda-style one-shot entry ----------------------------------
  test("Lambda.handle runs one API pipeline to a storage URI and reports the count") {
    TestHttp.withServer("/data" -> (TestHttp.respond(_, 200,
      """[{"id":1,"v":"a"},{"id":2,"v":"b"}]"""))
    ) { base =>
      val dir = java.nio.file.Files.createTempDirectory("graft_lambda").toString
      val resp = Lambda.handle(spark,
        Lambda.Event(apiEndpoint = Some(s"$base/data")),
        env = Map("S3_BUCKET" -> s"file://$dir", "S3_PREFIX" -> "etl-out"))
      assert(resp.recordsProcessed === 2L)
      val out = spark.read.option("multiLine", "true").json(s"$dir/etl-out/output.json")
      assert(out.count() === 2)
    }
  }

  // ----- end-to-end: the reference example's 4-pipeline shape ---------
  test("reference-shaped sequence-example.toml runs end-to-end: " +
    "api -> merged-api -> previous -> combined+zip, metrics for all 4") {
    val rec = new TestHttp.Recorded
    TestHttp.withServer(
      "/posts" -> { ex =>
        rec.synchronized { rec.calls += 1 }
        TestHttp.respond(ex, 200,
          """[{"id":1,"title":"  First Post  ","body":"body one","userId":7},
            |{"id":2,"title":"Second\nPost","body":"body two","userId":8},
            |{"id":1,"title":"  First Post  ","body":"body one","userId":7}]"""
            .stripMargin)
      },
      "/users" -> (TestHttp.respond(_, 200,
        """[{"id":7,"name":"User Seven","email":"u7@x"},
          |{"id":8,"name":"User Eight","email":"u8@x"}]""".stripMargin))
    ) { base =>
      val dir = java.nio.file.Files.createTempDirectory("graft_toml_e2e").toString
      val toml =
        s"""[sequence]
           |name = "data-processing-sequence"
           |description = "Multi-stage data processing pipeline sequence"
           |version = "1.0.0"
           |execution_order = ["data-extraction", "data-enrichment", "data-aggregation", "final-export"]
           |
           |[global.shared_variables]
           |api_base_url = "$base"
           |out_dir = "$dir"
           |
           |[error_handling]
           |on_pipeline_failure = "stop"
           |retry_attempts = 2
           |retry_delay_seconds = 0
           |
           |[[pipelines]]
           |name = "data-extraction"
           |enabled = true
           |[pipelines.source]
           |type = "api"
           |endpoint = "$${api_base_url}/posts"
           |timeout_seconds = 30
           |[pipelines.source.headers]
           |"User-Agent" = "ETL-Sequence/1.0"
           |[pipelines.extract]
           |max_records = 10
           |[pipelines.extract.field_mapping]
           |id = "post_id"
           |title = "post_title"
           |body = "post_content"
           |userId = "author_id"
           |[pipelines.extract.data_processing]
           |deduplicate = true
           |deduplicate_fields = ["post_id"]
           |sort_by = "post_id"
           |sort_order = "asc"
           |[pipelines.transform.operations]
           |clean_text = true
           |trim_whitespace = true
           |normalize_fields = ["post_title"]
           |[pipelines.load]
           |output_path = "$${out_dir}/seq"
           |output_formats = ["json", "csv"]
           |filename_pattern = "{pipeline_name}_out"
           |
           |[[pipelines]]
           |name = "data-enrichment"
           |enabled = true
           |dependencies = ["data-extraction"]
           |[pipelines.source]
           |type = "api"
           |endpoint = "$${api_base_url}/users"
           |[pipelines.source.data_source]
           |use_previous_output = true
           |merge_with_api = true
           |[pipelines.transform.data_enrichment]
           |computed_fields = { "row_no" = "record_index", "source_pipeline" = "pipeline_name" }
           |[pipelines.load]
           |output_path = "$${out_dir}/seq"
           |output_formats = ["json"]
           |filename_pattern = "{pipeline_name}_out"
           |
           |[[pipelines]]
           |name = "data-aggregation"
           |enabled = true
           |dependencies = ["data-enrichment"]
           |[pipelines.source]
           |type = "previous"
           |[pipelines.source.data_source]
           |use_previous_output = true
           |from_pipeline = "data-enrichment"
           |[pipelines.conditions]
           |when_previous_succeeded = true
           |skip_if_empty = true
           |[pipelines.conditions.when_records_count]
           |min = 1
           |from_pipeline = "data-enrichment"
           |[pipelines.load]
           |output_path = "$${out_dir}/seq"
           |output_formats = ["json", "csv"]
           |filename_pattern = "{pipeline_name}_out"
           |
           |[[pipelines]]
           |name = "final-export"
           |enabled = true
           |dependencies = ["data-aggregation"]
           |[pipelines.source]
           |type = "combined"
           |[pipelines.transform.operations]
           |clean_text = true
           |[pipelines.load]
           |output_path = "$${out_dir}/seq"
           |output_formats = ["json", "csv", "tsv"]
           |filename_pattern = "final_export_{execution_id}"
           |[pipelines.load.compression]
           |enabled = true
           |filename = "complete_sequence_output.zip"
           |include_metadata = true
           |""".stripMargin
      val cfgPath = s"$dir/seq.toml"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(cfgPath), toml)

      val seq = TomlConfig.loadSequence(
        java.nio.file.Files.readString(java.nio.file.Paths.get(cfgPath)))
      assert(seq.pipelines.map(_.name) === Seq(
        "data-extraction", "data-enrichment", "data-aggregation", "final-export"))

      val code = Main.run(spark, seq, Main.Args(cfgPath,
        executionId = Some("exec-toml"),
        metricsOut = Some(s"$dir/sequence_metrics.json")))
      assert(code === 0)

      // pipeline 1: dedup on mapped post_id (3 raw rows -> 2), mapped +
      // cleaned + normalized single-file outputs
      val p1 = spark.read.option("multiLine", "true").json(s"$dir/seq/data-extraction_out.json")
      assert(p1.count() === 2)
      assert(p1.columns.contains("post_id") && p1.columns.contains("post_title"))
      assert(p1.select("post_title").collect().map(_.getString(0)).sorted
        === Array("first post", "second post")) // trim + newline + lowercase
      // pipeline 2: merged-api = union(prev, users)
      val p2 = spark.read.option("multiLine", "true").json(s"$dir/seq/data-enrichment_out.json")
      assert(p2.count() === 4) // 2 posts + 2 users
      assert(p2.columns.contains("row_no") && p2.columns.contains("source_pipeline"))
      // pipeline 4: zip named by compression.filename (reference parity),
      // carrying all three formats + metadata
      val zipPath = java.nio.file.Paths.get(s"$dir/seq/complete_sequence_output.zip")
      assert(java.nio.file.Files.exists(zipPath))
      val zf = new java.util.zip.ZipFile(zipPath.toFile)
      try {
        import scala.jdk.CollectionConverters._
        val names = zf.entries().asScala.map(_.getName).toSet
        assert(names.exists(_.endsWith(".json")) && names.exists(_.endsWith(".csv"))
          && names.exists(_.endsWith(".tsv")))
        assert(names.exists(_.contains("metadata")))
      } finally zf.close()

      // W7 metrics: the reference's 4-pipeline sequence_metrics shape
      val metrics = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/sequence_metrics.json"))
      Seq("data-extraction", "data-enrichment", "data-aggregation", "final-export")
        .foreach(n => assert(metrics.contains(s""""name":"$n"""")))
      assert(metrics.contains(""""total_pipelines":4"""))
      assert(metrics.contains(""""execution_id":"exec-toml""""))
    }
  }

  test("curation-extension tables parse from TOML with the same keys as " +
    "JSON: winnow_dedup, decontaminate, strip_dup_spans, " +
    "payload_dedup_registry, crossmodal_dedup, image_dedup, " +
    "image_semantic_dedup, near_dedup_registry, lang_filter, " +
    "quality_filter, sample") {
    val seq = TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "curate"
        |[pipelines.source]
        |type = "file"
        |path = "/tmp/docs"
        |[pipelines.transform.winnow_dedup]
        |id_field = "doc_id"
        |text_field = "text"
        |k = 5
        |min_overlap = 0.3
        |[pipelines.transform.decontaminate]
        |id_field = "doc_id"
        |text_field = "text"
        |bench_path = "/tmp/bench"
        |bench_id_field = "bid"
        |bench_text_field = "btext"
        |min_containment = 0.25
        |[pipelines.transform.strip_dup_spans]
        |id_field = "doc_id"
        |text_field = "text"
        |gap = 16
        |[pipelines.transform.payload_dedup]
        |id_field = "doc_id"
        |payload_field = "payload"
        |max_hamming = 2
        |[pipelines.transform.payload_dedup_registry]
        |id_field = "doc_id"
        |payload_field = "payload"
        |history_path = "/tmp/media_hist"
        |history_id_field = "mid"
        |history_payload_field = "bytes"
        |max_hamming = 2
        |[pipelines.transform.crossmodal_dedup]
        |id_field = "doc_id"
        |text_field = "text"
        |payload_field = "payload"
        |[pipelines.transform.image_dedup]
        |id_field = "doc_id"
        |payload_field = "img"
        |max_hamming = 2
        |[pipelines.transform.image_semantic_dedup]
        |id_field = "doc_id"
        |payload_field = "img"
        |threshold = 0.97
        |grid = 5
        |[pipelines.transform.near_dedup_registry]
        |id_field = "doc_id"
        |text_field = "text"
        |history_path = "/tmp/hist"
        |min_jaccard = 0.7
        |[pipelines.transform.lang_filter]
        |field = "text"
        |allowed = ["en", "de"]
        |[pipelines.transform.quality_filter]
        |field = "text"
        |min = 0.4
        |[pipelines.transform.classifier_train]
        |id_field = "doc_id"
        |text_field = "text"
        |pos_source = "curated"
        |neg_source = "crawl"
        |n_buckets = 128
        |iters = 2
        |lr_den = 64
        |min = 0.6
        |[pipelines.transform.lm_filter]
        |id_field = "doc_id"
        |text_field = "text"
        |src_field = "source"
        |train_source = "wiki"
        |thresh_bits = 6
        |[pipelines.transform.gopher_filter]
        |id_field = "doc_id"
        |text_field = "text"
        |min_words = 40
        |min_stopwords = 1
        |[pipelines.transform.c4_clean]
        |id_field = "doc_id"
        |text_field = "text"
        |window = 8
        |blacklist = ["lorem", "ipsum"]
        |[pipelines.transform.dsir_select]
        |id_field = "doc_id"
        |text_field = "text"
        |target_path = "/tmp/target"
        |k = 250
        |[pipelines.transform.repetition_filter]
        |id_field = "doc_id"
        |text_field = "text"
        |top_2 = 0.25
        |dup_10 = 0.05
        |[pipelines.transform.sample]
        |id_field = "doc_id"
        |strata_field = "lang"
        |default_rate = 0.1
        |[pipelines.transform.sample.rates]
        |en = 0.5
        |[pipelines.transform.epoch_pack]
        |id_field = "doc_id"
        |text_field = "text"
        |budget = 128
        |n_shards = 2
        |salt = "ep7"
        |mix_field = "lang"
        |mix_budget_tokens = 3000
        |temperature = 2.0
        |train_merges = 4
        |layout = "curriculum_range"
        |diff_field = "quality"
        |""".stripMargin)
    val t = seq.pipelines.head.transform
    assert(t.winnowDedup.exists(w => w.k == 5 && w.minOverlap == 0.3
      && w.w == 4 && w.maxDocsPerFp == 50L))
    assert(t.decontaminate.exists(d => d.benchPath == "/tmp/bench"
      && d.benchIdField == "bid" && d.minContainment == 0.25 && d.n == 3))
    assert(t.stripDupSpans.exists(s => s.gap == 16L && s.k == 8 && s.minFps == 2L))
    assert(t.payloadDedup.exists(p => p.idField == "doc_id"
      && p.payloadField == "payload" && p.maxHamming == 2))
    assert(t.payloadDedupRegistry.exists(r =>
      r.historyPath == "/tmp/media_hist" && r.historyIdField == "mid"
      && r.historyPayloadField == "bytes" && r.maxHamming == 2
      && r.historyFormat == "parquet"))
    assert(t.crossModalDedup.exists(x => x.idField == "doc_id"
      && x.textField == "text" && x.payloadField == "payload"
      && x.maxHamming == 3))
    assert(t.imageDedup.exists(i => i.idField == "doc_id"
      && i.payloadField == "img" && i.maxHamming == 2))
    assert(t.imageSemanticDedup.exists(i => i.idField == "doc_id"
      && i.payloadField == "img" && i.threshold == 0.97 && i.grid == 5))
    assert(t.nearDedupRegistry.exists(r => r.historyPath == "/tmp/hist"
      && r.minJaccard == 0.7 && r.historyIdField == "doc_id"))
    assert(t.langFilter.exists(_.allowed == Seq("en", "de")))
    assert(t.lmFilter.exists(lm => lm.srcField == "source"
      && lm.trainSource == "wiki" && lm.threshBits == 6
      && lm.idField == "doc_id" && lm.textField == "text"))
    assert(t.qualityFilter.exists(_.min == 0.4))
    assert(t.classifierTrain.exists(c => c.posSource == "curated"
      && c.negSource == "crawl" && c.srcField == "source"
      && c.nBuckets == 128 && c.iters == 2 && c.lrDen == 64L
      && c.min == 0.6))
    assert(t.gopherFilter.exists(g => g.minWords == 40L
      && g.minStopwords == 1 && g.maxWords == 100000L
      && g.maxSymbolRatio == 0.1))
    assert(t.c4Clean.exists(c => c.window == 8 && c.minSegWords == 5
      && c.blacklist == Seq("lorem", "ipsum")))
    assert(t.dsirSelect.exists(d => d.targetPath == "/tmp/target"
      && d.k == 250 && d.nBuckets == 4096))
    assert(t.repetitionFilter.exists(r => r.topThresholds(2) == 0.25
      && r.topThresholds(3) == 0.18 && r.dupThresholds(10) == 0.05
      && r.dupThresholds(5) == 0.15))
    assert(t.sample.exists(s => s.rates == Map("en" -> 0.5)
      && s.defaultRate == 0.1))
    assert(t.epochPack.exists(ep => ep.idField == "doc_id"
      && ep.textField == "text" && ep.budget == 128L && ep.nShards == 2
      && ep.salt == "ep7" && ep.mixField.contains("lang")
      && ep.mixBudgetTokens == 3000L && ep.temperature == 2.0
      && ep.mergesPath.isEmpty && ep.trainMerges == 4
      && ep.layout == "curriculum_range"
      && ep.diffField.contains("quality")))
  }

  /** A file-source pipeline with `keys` at `path` ("extract",
    * "transform.near_dedup", ...), as TOML text and as JSON text. */
  private def bothFrontEndTexts(path: String, keys: Map[String, Any]): (String, String) = {
    def toml(v: Any): String = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case xs: Seq[_] => xs.map(toml).mkString("[", ", ", "]")
      case m: Map[_, _] => m.map { case (k, x) => s"$k = ${toml(x)}" }.mkString("{ ", ", ", " }")
      case other => other.toString
    }
    val tomlText = (Seq("[[pipelines]]", "name = \"p\"", "[pipelines.source]",
      "type = \"file\"", "path = \"/tmp/docs\"", s"[pipelines.$path]") ++
      keys.map { case (k, v) => s"$k = ${toml(v)}" }).mkString("", "\n", "\n")
    val nested = path.split('.').foldRight(keys: Any)((seg, inner) => Map(seg -> inner))
    val jsonText = graft.util.Json.render(Map("pipelines" -> Seq(
      Map("name" -> "p", "source" -> Map("type" -> "file", "path" -> "/tmp/docs")) ++
        nested.asInstanceOf[Map[String, Any]])))
    (tomlText, jsonText)
  }

  /** That pipeline decoded through the TOML and the JSON front-end. */
  private def bothFrontEnds(path: String, keys: Map[String, Any]): (PipelineDef, PipelineDef) = {
    val (toml, json) = bothFrontEndTexts(path, keys)
    (TomlConfig.loadSequence(toml, env = Map.empty).pipelines.head,
      JsonConfig.loadSequence(json, env = Map.empty).pipelines.head)
  }

  test("every shared config table decodes the same through the TOML and " +
    "JSON front-ends; omitted stage keys take the Model defaults") {
    val idText = Map("id_field" -> "doc_id", "text_field" -> "text")
    val idPayload = Map("id_field" -> "doc_id", "payload_field" -> "img")
    // every key set to a non-default value
    val full: Seq[(String, Map[String, Any])] = Seq(
      "extract" -> Map("field_mapping" -> Map("id" -> "doc_id"),
        "max_records" -> 9, "concurrent_requests" -> 2,
        "first_record_only" -> true, "filters" -> Map("lang" -> "en"),
        "data_processing" -> Map("deduplicate" -> true,
          "deduplicate_fields" -> Seq("doc_id"), "sort_by" -> "doc_id",
          "sort_order" -> "desc", "sort_as_string" -> true),
        "error_handling" -> Map("on_api_failure" -> "fail"),
        "sample_data" -> Seq(Map("id" -> 1), "{\"id\": 2}")),
      "conditions" -> Map("enabled" -> false, "when_previous_succeeded" -> true,
        "when_records_count" -> Map("min" -> 1, "max" -> 9, "from_pipeline" -> "a"),
        "when_shared_data" -> Map("mode" -> "on"), "skip_if_empty" -> true),
      "transform" -> Map("field_mapping" -> Map("t" -> "$.a.b"),
        "record_index_order_by" -> Seq("doc_id"),
        "data_enrichment" -> Map("lookup_data" -> Map("src" -> "dst")),
        "merge_with_previous" -> true, "merge_key" -> "doc_id",
        "add_processed_flags" -> false),
      "transform.lookup" -> Map("path" -> "/tmp/lk", "format" -> "parquet",
        "key" -> "doc_id", "options" -> Map("mergeSchema" -> "true")),
      "transform.intermediate" -> Map("conditions" -> Map("status" -> "ok"),
        "min_conditions" -> Map("v" -> 20), "shared_key" -> "auth"),
      "transform.validation" -> Map("required_fields" -> Seq("doc_id"),
        "min_records" -> 1, "max_records" -> 50),
      "transform.near_dedup" -> (idText + ("shingle_size" -> 3)),
      "transform.winnow_dedup" -> (idText ++ Map("k" -> 5, "w" -> 3,
        "max_docs_per_fp" -> 40, "min_shared" -> 3, "min_overlap" -> 0.25)),
      "transform.payload_dedup" -> (idPayload + ("max_hamming" -> 2)),
      "transform.payload_dedup_registry" -> (idPayload ++ Map(
        "history_path" -> "/tmp/h", "history_format" -> "csv",
        "history_id_field" -> "hid", "history_payload_field" -> "hp",
        "max_hamming" -> 1)),
      "transform.crossmodal_dedup" -> (idText ++ Map("payload_field" -> "img",
        "max_hamming" -> 2)),
      "transform.image_dedup" -> (idPayload + ("max_hamming" -> 1)),
      "transform.image_semantic_dedup" -> (idPayload ++ Map("threshold" -> 0.95,
        "grid" -> 6)),
      "transform.decontaminate" -> (idText ++ Map("bench_path" -> "/tmp/b",
        "bench_format" -> "csv", "bench_id_field" -> "bid",
        "bench_text_field" -> "bt", "n" -> 4, "min_overlap_ngrams" -> 6,
        "k" -> 7, "w" -> 3, "min_containment" -> 0.4)),
      "transform.strip_dup_spans" -> (idText ++ Map("k" -> 6, "w" -> 2,
        "max_docs_per_fp" -> 20, "gap" -> 16, "min_fps" -> 3)),
      "transform.near_dedup_registry" -> (idText ++ Map("history_path" -> "/tmp/nh",
        "history_format" -> "csv", "history_id_field" -> "hid",
        "history_text_field" -> "ht", "shingle_size" -> 3, "min_jaccard" -> 0.7)),
      "transform.lang_filter" -> Map("field" -> "text", "allowed" -> Seq("en", "de")),
      "transform.quality_filter" -> Map("field" -> "text", "min" -> 0.4),
      "transform.classifier_filter" -> (idText ++ Map("weights_path" -> "/tmp/w",
        "weights_format" -> "csv", "n_buckets" -> 256, "scale" -> 100,
        "bias" -> -1.5, "min" -> 0.6)),
      "transform.classifier_train" -> (idText ++ Map("pos_source" -> "good",
        "neg_source" -> "bad", "src_field" -> "src", "n_buckets" -> 128,
        "iters" -> 2, "lr_den" -> 64, "min" -> 0.7)),
      "transform.lm_filter" -> (idText ++ Map("src_field" -> "source",
        "train_source" -> "wiki", "thresh_bits" -> 6)),
      "transform.gopher_filter" -> (idText ++ Map("min_words" -> 40,
        "max_words" -> 5000, "min_mean_word_len" -> 2.5,
        "max_mean_word_len" -> 9, "max_symbol_ratio" -> 0.2,
        "max_bullet_frac" -> 0.8, "max_ellipsis_frac" -> 0.2,
        "min_alpha_frac" -> 0.7, "min_stopwords" -> 1)),
      "transform.c4_clean" -> (idText ++ Map("window" -> 8, "min_seg_words" -> 4,
        "min_segs" -> 2, "blacklist" -> Seq("lorem"))),
      "transform.dsir_select" -> (idText ++ Map("target_path" -> "/tmp/t",
        "target_format" -> "csv", "target_text_field" -> "tt",
        "n_buckets" -> 512, "k" -> 50)),
      "transform.repetition_filter" -> (idText ++ Map("top_2" -> 0.25,
        "top_4" -> 0.1, "dup_5" -> 0.2, "dup_10" -> 0.05)),
      "transform.sample" -> Map("id_field" -> "doc_id", "strata_field" -> "lang",
        "rates" -> Map("en" -> 0.5, "de" -> 1), "default_rate" -> 0.1),
      "transform.epoch_pack" -> (idText ++ Map("budget" -> 128, "n_shards" -> 2,
        "salt" -> "s", "mix_field" -> "lang", "mix_budget_tokens" -> 3000,
        "temperature" -> 1.5, "merges_path" -> "/tmp/m", "merges_format" -> "csv",
        "train_merges" -> 4, "layout" -> "curriculum", "diff_field" -> "q")))
    assert(full.count(_._1.startsWith("transform.")) === 24, "21 stages + 3 tables")
    def decode(path: String, keys: Map[String, Any]): Option[PipelineDef] = {
      val (toml, json) = bothFrontEndTexts(path, keys)
      val t = scala.util.Try(TomlConfig.loadSequence(toml, env = Map.empty)).toOption
      val j = scala.util.Try(JsonConfig.loadSequence(json, env = Map.empty)).toOption
      assert(t === j, s"$path: TOML and JSON decode differently")
      t.map(_.pipelines.head)
    }
    full.foreach { case (path, keys) =>
      val both = decode(path, keys)
      assert(both.nonEmpty, s"$path failed to decode")
      // every key reaches the model: dropping any one changes the result
      keys.keys.foreach { k =>
        assert(decode(path, keys - k) != both, s"$path.$k has no effect")
      }
    }
    // a stage with only its required keys is the Model constructor called
    // with only those keys
    val minimal: Seq[(String, Map[String, Any], TransformDef)] = Seq(
      ("near_dedup", idText, TransformDef(nearDedup = Some(NearDedupDef("doc_id", "text")))),
      ("winnow_dedup", idText, TransformDef(winnowDedup = Some(WinnowDedupDef("doc_id", "text")))),
      ("payload_dedup", idPayload,
        TransformDef(payloadDedup = Some(PayloadDedupDef("doc_id", "img")))),
      ("payload_dedup_registry", idPayload + ("history_path" -> "/h"),
        TransformDef(payloadDedupRegistry = Some(PayloadDedupRegistryDef("doc_id", "img", "/h",
          historyIdField = "doc_id", historyPayloadField = "img")))),
      ("crossmodal_dedup", idText + ("payload_field" -> "img"),
        TransformDef(crossModalDedup = Some(CrossModalDedupDef("doc_id", "text", "img")))),
      ("image_dedup", idPayload, TransformDef(imageDedup = Some(ImageDedupDef("doc_id", "img")))),
      ("image_semantic_dedup", idPayload,
        TransformDef(imageSemanticDedup = Some(ImageSemanticDedupDef("doc_id", "img")))),
      ("decontaminate", idText ++ Map("bench_path" -> "/b", "bench_id_field" -> "bid",
        "bench_text_field" -> "bt"),
        TransformDef(decontaminate = Some(DecontaminateDef("doc_id", "text", "/b",
          benchIdField = "bid", benchTextField = "bt")))),
      ("strip_dup_spans", idText,
        TransformDef(stripDupSpans = Some(StripDupSpansDef("doc_id", "text")))),
      ("near_dedup_registry", idText + ("history_path" -> "/h"),
        TransformDef(nearDedupRegistry = Some(NearDedupRegistryDef("doc_id", "text", "/h",
          historyIdField = "doc_id", historyTextField = "text")))),
      ("lang_filter", Map("field" -> "text"),
        TransformDef(langFilter = Some(LangFilterDef("text")))),
      ("quality_filter", Map("field" -> "text"),
        TransformDef(qualityFilter = Some(QualityFilterDef("text")))),
      ("classifier_filter", idText + ("weights_path" -> "/w"),
        TransformDef(classifierFilter = Some(ClassifierFilterDef("doc_id", "text", "/w")))),
      ("classifier_train", idText ++ Map("pos_source" -> "good", "neg_source" -> "bad"),
        TransformDef(classifierTrain = Some(ClassifierTrainDef("doc_id", "text", "good", "bad")))),
      ("lm_filter", idText ++ Map("src_field" -> "src", "train_source" -> "wiki"),
        TransformDef(lmFilter = Some(LmFilterDef("doc_id", "text", "src", "wiki")))),
      ("gopher_filter", idText, TransformDef(gopherFilter = Some(GopherFilterDef("doc_id", "text")))),
      ("c4_clean", idText, TransformDef(c4Clean = Some(C4CleanDef("doc_id", "text")))),
      ("dsir_select", idText + ("target_path" -> "/t"),
        TransformDef(dsirSelect = Some(DsirSelectDef("doc_id", "text", "/t")))),
      ("repetition_filter", idText,
        TransformDef(repetitionFilter = Some(RepetitionFilterDef("doc_id", "text")))),
      ("sample", Map("id_field" -> "doc_id", "strata_field" -> "lang"),
        TransformDef(sample = Some(SampleDef("doc_id", "lang")))),
      ("epoch_pack", idText, TransformDef(epochPack = Some(EpochPackDef("doc_id", "text")))))
    assert(minimal.map(_._1).toSet === full.map(_._1).collect {
      case p if p.startsWith("transform.") => p.stripPrefix("transform.")
    }.toSet -- Set("lookup", "intermediate", "validation"))
    minimal.foreach { case (stage, keys, expected) =>
      val (t, j) = bothFrontEnds(s"transform.$stage", keys)
      assert(t.transform === expected, s"$stage (TOML)")
      assert(j.transform === expected, s"$stage (JSON)")
    }
  }

  test("a non-integral TOML float in an integer slot fails loud instead " +
    "of silently truncating") {
    val e = intercept[RuntimeException](TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |[pipelines.transform.winnow_dedup]
        |id_field = "doc_id"
        |text_field = "text"
        |k = 8.9
        |""".stripMargin, env = Map.empty))
    assert(e.getMessage.contains("expected an integer"), e.getMessage)
    // the same slot through the JSON front-end, and an integer outside
    // Int range through both: each fails loud instead of truncating or
    // wrapping
    val rejects = Seq(
      "transform.winnow_dedup" -> Map("id_field" -> "doc_id",
        "text_field" -> "text", "k" -> 8.9),
      "transform.classifier_filter" -> Map("id_field" -> "doc_id",
        "text_field" -> "text", "weights_path" -> "/w",
        "n_buckets" -> 5000000000L))
    rejects.foreach { case (path, keys) =>
      val (toml, json) = bothFrontEndTexts(path, keys)
      Seq("TOML" -> (() => TomlConfig.loadSequence(toml, env = Map.empty)),
        "JSON" -> (() => JsonConfig.loadSequence(json, env = Map.empty))).foreach {
        case (frontEnd, load) =>
          val e = intercept[RuntimeException](load())
          assert(e.getMessage.contains("expected an integer"),
            s"$frontEnd $path: ${e.getMessage}")
      }
    }
  }

  test("TOML sample_data given as inline tables decodes to JSON records") {
    val seq = TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |[pipelines.extract]
        |sample_data = [{id = 1, name = "a"}, '{"id": 2, "name": "b"}']
        |""".stripMargin, env = Map.empty)
    val records = seq.pipelines.head.extract.sampleData
      .map(graft.util.Json.objectToMap)
    assert(records === Seq(Map("id" -> 1L, "name" -> "a"), Map("id" -> 2L, "name" -> "b")))
  }

  test("a DECLARED but empty curation table errors on its missing " +
    "required fields instead of silently skipping the stage") {
    val e = intercept[RuntimeException](TomlConfig.loadSequence(
      """[[pipelines]]
        |name = "p"
        |[pipelines.source]
        |type = "api"
        |endpoint = "http://h/x"
        |[pipelines.transform.decontaminate]
        |""".stripMargin, env = Map.empty))
    assert(e.getMessage.contains("decontaminate missing"), e.getMessage)
  }
}
