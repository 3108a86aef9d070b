package graft.config

import graft.util.Json

/** The config tables whose keys are the same in the TOML and JSON
  * layouts, decoded once for both front-ends: `extract` (with
  * `data_processing`), `conditions`, the shared transform keys
  * (`field_mapping`, `record_index_order_by`,
  * `data_enrichment.lookup_data`, `lookup`, `merge_with_previous` /
  * `merge_key`, `add_processed_flags`, `intermediate`, `validation`) and
  * the 21 curation stages, `near_dedup` through `epoch_pack`.
  *
  * Input is the value universe both parsers yield — `Toml.parse`
  * directly, `Json.toScala` for JSON: String | Long | Double | Boolean |
  * Vector[Any] | Map[String, Any] (JSON adds null, read as absent).
  * Every default comes from the `Model` case classes. A value of the
  * wrong shape fails loud where coercing it would change the config's
  * meaning: a non-integral number in an integer slot, an integer outside
  * `Int` range in an `Int` slot, a non-string element in a string list,
  * and a table key whose value is not a table. A missing or wrongly
  * typed scalar otherwise falls back to its default.
  */
object TableDecoder {

  type Table = Map[String, Any]

  /** Typed lookups by key on one decoded table. */
  implicit final class Keys(private val t: Table) extends AnyVal {
    def tbl(k: String): Table = t.get(k) match {
      case Some(m: Map[String, Any] @unchecked) => m
      case _ => Map.empty
    }
    def arr(k: String): Vector[Any] = t.get(k) match {
      case Some(a: Vector[Any] @unchecked) => a
      case _ => Vector.empty
    }
    /** Every element of the array under `k`, each of which must be a table. */
    def tables(k: String): Vector[Table] = arr(k).map {
      case m: Map[String, Any] @unchecked => m
      case other => sys.error(s"$k: expected a table, got ${Json.render(other)}")
    }
    def str(k: String): Option[String] = t.get(k).collect { case s: String => s }
    def long(k: String): Option[Long] = t.get(k).collect {
      case l: Long => l
      // floats only coerce when integral — k = 8.9 must fail loud, not
      // silently truncate to 8
      case d: Double if d.isWhole => d.toLong
      case d: Double => sys.error(s"$k: expected an integer value, got $d")
    }
    def int(k: String): Option[Int] = long(k).map { l =>
      if (l.isValidInt) l.toInt
      else sys.error(s"$k: expected an integer value in Int range, got $l")
    }
    def dbl(k: String): Option[Double] =
      t.get(k).collect { case d: Double => d; case l: Long => l.toDouble }
    def bool(k: String): Option[Boolean] = t.get(k).collect { case b: Boolean => b }
    /** The string list under `k`, or None when `k` holds no array. */
    def strs(k: String): Option[Seq[String]] = t.get(k).collect {
      case a: Vector[Any] @unchecked => a.map {
        case s: String => s
        case other => sys.error(s"$k: expected a list of strings, got element ${Json.render(other)}")
      }
    }
    def strSeq(k: String): Seq[String] = strs(k).getOrElse(Nil)
    def strMap(k: String): Map[String, String] = tbl(k).map { case (key, v) => key -> text(v) }
    /** The numeric entries of the table under `k`. */
    def dblMap(k: String): Map[String, Double] = tbl(k).collect {
      case (key, l: Long) => key -> l.toDouble
      case (key, d: Double) => key -> d
    }
  }

  /** A string as-is; any other value as its JSON text. */
  private def text(v: Any): String = v match {
    case s: String => s
    case other => Json.render(other)
  }

  /** Decodes the table under `key`, or None when the key is absent. A
    * DECLARED table decodes even when empty, so an empty
    * `[pipelines.transform.decontaminate]` fails on its missing required
    * keys instead of silently skipping the stage. `req` reads a required
    * string key, failing with "<key> missing <field>". */
  private def section[A](n: Table, key: String)(
      decode: (Table, String => String) => A): Option[A] =
    n.get(key) match {
      case None | Some(null) => None
      case Some(t: Map[String, Any] @unchecked) =>
        Some(decode(t, f => t.str(f).getOrElse(sys.error(s"$key missing $f"))))
      case Some(other) => sys.error(s"$key must be a table, got ${Json.render(other)}")
    }

  def extract(n: Table): ExtractDef = {
    val d = ExtractDef()
    val p = n.tbl("data_processing")
    val dp = d.processing
    ExtractDef(
      fieldMapping = n.strMap("field_mapping"),
      maxRecords = n.int("max_records"),
      concurrentRequests = n.int("concurrent_requests"),
      firstRecordOnly = n.bool("first_record_only").getOrElse(d.firstRecordOnly),
      filters = n.tbl("filters"),
      processing = DataProcessingDef(
        deduplicate = p.bool("deduplicate").getOrElse(dp.deduplicate),
        deduplicateFields = p.strSeq("deduplicate_fields"),
        sortBy = p.str("sort_by"),
        sortOrder = p.str("sort_order").getOrElse(dp.sortOrder),
        sortAsString = p.bool("sort_as_string").getOrElse(dp.sortAsString)),
      onApiFailure = n.tbl("error_handling").str("on_api_failure").getOrElse(d.onApiFailure),
      sampleData = n.arr("sample_data").map(text))
  }

  def conditions(n: Table): ConditionsDef = {
    val d = ConditionsDef()
    ConditionsDef(
      enabled = n.bool("enabled").getOrElse(d.enabled),
      whenPreviousSucceeded = n.bool("when_previous_succeeded").getOrElse(d.whenPreviousSucceeded),
      whenRecordsCount = section(n, "when_records_count") { (t, _) =>
        RecordsCountCond(t.long("min"), t.long("max"), t.str("from_pipeline"))
      },
      whenSharedData = n.tbl("when_shared_data"),
      skipIfEmpty = n.bool("skip_if_empty").getOrElse(d.skipIfEmpty))
  }

  /** The transform keys both layouts share, laid over `base` — the
    * front-end's decoding of its own layout's keys. */
  def transform(n: Table, base: TransformDef): TransformDef = base.copy(
    fieldMapping = n.strMap("field_mapping"),
    recordIndexOrderBy = n.strSeq("record_index_order_by"),
    enrichment = n.tbl("data_enrichment").strMap("lookup_data"),
    lookup = section(n, "lookup") { (t, req) =>
      val d = LookupDef(path = req("path"), key = req("key"))
      d.copy(format = t.str("format").getOrElse(d.format), options = t.strMap("options"))
    },
    mergeWithPrevious = n.bool("merge_with_previous").getOrElse(base.mergeWithPrevious),
    mergeKey = n.str("merge_key").getOrElse(base.mergeKey),
    addProcessedFlags = n.bool("add_processed_flags").getOrElse(base.addProcessedFlags),
    intermediate = section(n, "intermediate") { (t, _) =>
      val d = IntermediateDef()
      IntermediateDef(t.tbl("conditions"), t.dblMap("min_conditions"),
        t.str("shared_key").getOrElse(d.sharedKey))
    },
    validation = section(n, "validation") { (t, _) =>
      ValidationDef(t.strSeq("required_fields"), t.long("min_records"), t.long("max_records"))
    },
    nearDedup = section(n, "near_dedup") { (t, req) =>
      val d = NearDedupDef(req("id_field"), req("text_field"))
      d.copy(shingleSize = t.int("shingle_size").getOrElse(d.shingleSize))
    },
    winnowDedup = section(n, "winnow_dedup") { (t, req) =>
      val d = WinnowDedupDef(req("id_field"), req("text_field"))
      d.copy(
        k = t.int("k").getOrElse(d.k),
        w = t.int("w").getOrElse(d.w),
        maxDocsPerFp = t.long("max_docs_per_fp").getOrElse(d.maxDocsPerFp),
        minShared = t.long("min_shared").getOrElse(d.minShared),
        minOverlap = t.dbl("min_overlap").getOrElse(d.minOverlap))
    },
    payloadDedup = section(n, "payload_dedup") { (t, req) =>
      val d = PayloadDedupDef(req("id_field"), req("payload_field"))
      d.copy(maxHamming = t.int("max_hamming").getOrElse(d.maxHamming))
    },
    payloadDedupRegistry = section(n, "payload_dedup_registry") { (t, req) =>
      val (id, payload) = (req("id_field"), req("payload_field"))
      val d = PayloadDedupRegistryDef(id, payload, req("history_path"),
        historyIdField = t.str("history_id_field").getOrElse(id),
        historyPayloadField = t.str("history_payload_field").getOrElse(payload))
      d.copy(
        historyFormat = t.str("history_format").getOrElse(d.historyFormat),
        maxHamming = t.int("max_hamming").getOrElse(d.maxHamming))
    },
    crossModalDedup = section(n, "crossmodal_dedup") { (t, req) =>
      val d = CrossModalDedupDef(req("id_field"), req("text_field"), req("payload_field"))
      d.copy(maxHamming = t.int("max_hamming").getOrElse(d.maxHamming))
    },
    imageDedup = section(n, "image_dedup") { (t, req) =>
      val d = ImageDedupDef(req("id_field"), req("payload_field"))
      d.copy(maxHamming = t.int("max_hamming").getOrElse(d.maxHamming))
    },
    imageSemanticDedup = section(n, "image_semantic_dedup") { (t, req) =>
      val d = ImageSemanticDedupDef(req("id_field"), req("payload_field"))
      d.copy(
        threshold = t.dbl("threshold").getOrElse(d.threshold),
        grid = t.int("grid").getOrElse(d.grid))
    },
    decontaminate = section(n, "decontaminate") { (t, req) =>
      val d = DecontaminateDef(req("id_field"), req("text_field"), req("bench_path"),
        benchIdField = req("bench_id_field"), benchTextField = req("bench_text_field"))
      d.copy(
        benchFormat = t.str("bench_format").getOrElse(d.benchFormat),
        n = t.int("n").getOrElse(d.n),
        minOverlapNgrams = t.long("min_overlap_ngrams").getOrElse(d.minOverlapNgrams),
        k = t.int("k").getOrElse(d.k),
        w = t.int("w").getOrElse(d.w),
        minContainment = t.dbl("min_containment").getOrElse(d.minContainment))
    },
    stripDupSpans = section(n, "strip_dup_spans") { (t, req) =>
      val d = StripDupSpansDef(req("id_field"), req("text_field"))
      d.copy(
        k = t.int("k").getOrElse(d.k),
        w = t.int("w").getOrElse(d.w),
        maxDocsPerFp = t.long("max_docs_per_fp").getOrElse(d.maxDocsPerFp),
        gap = t.long("gap").getOrElse(d.gap),
        minFps = t.long("min_fps").getOrElse(d.minFps))
    },
    nearDedupRegistry = section(n, "near_dedup_registry") { (t, req) =>
      val (id, txt) = (req("id_field"), req("text_field"))
      val d = NearDedupRegistryDef(id, txt, req("history_path"),
        historyIdField = t.str("history_id_field").getOrElse(id),
        historyTextField = t.str("history_text_field").getOrElse(txt))
      d.copy(
        historyFormat = t.str("history_format").getOrElse(d.historyFormat),
        shingleSize = t.int("shingle_size").getOrElse(d.shingleSize),
        minJaccard = t.dbl("min_jaccard").getOrElse(d.minJaccard))
    },
    langFilter = section(n, "lang_filter") { (t, req) =>
      LangFilterDef(req("field"), t.strSeq("allowed"))
    },
    qualityFilter = section(n, "quality_filter") { (t, req) =>
      val d = QualityFilterDef(req("field"))
      d.copy(min = t.dbl("min").getOrElse(d.min))
    },
    classifierFilter = section(n, "classifier_filter") { (t, req) =>
      val d = ClassifierFilterDef(req("id_field"), req("text_field"), req("weights_path"))
      d.copy(
        weightsFormat = t.str("weights_format").getOrElse(d.weightsFormat),
        nBuckets = t.int("n_buckets").getOrElse(d.nBuckets),
        scale = t.dbl("scale").getOrElse(d.scale),
        bias = t.dbl("bias").getOrElse(d.bias),
        min = t.dbl("min").getOrElse(d.min))
    },
    classifierTrain = section(n, "classifier_train") { (t, req) =>
      val d = ClassifierTrainDef(req("id_field"), req("text_field"),
        req("pos_source"), req("neg_source"))
      d.copy(
        srcField = t.str("src_field").getOrElse(d.srcField),
        nBuckets = t.int("n_buckets").getOrElse(d.nBuckets),
        iters = t.int("iters").getOrElse(d.iters),
        lrDen = t.long("lr_den").getOrElse(d.lrDen),
        min = t.dbl("min").getOrElse(d.min))
    },
    lmFilter = section(n, "lm_filter") { (t, req) =>
      val d = LmFilterDef(req("id_field"), req("text_field"),
        req("src_field"), req("train_source"))
      d.copy(threshBits = t.int("thresh_bits").getOrElse(d.threshBits))
    },
    gopherFilter = section(n, "gopher_filter") { (t, req) =>
      val d = GopherFilterDef(req("id_field"), req("text_field"))
      d.copy(
        minWords = t.long("min_words").getOrElse(d.minWords),
        maxWords = t.long("max_words").getOrElse(d.maxWords),
        minMeanWordLen = t.dbl("min_mean_word_len").getOrElse(d.minMeanWordLen),
        maxMeanWordLen = t.dbl("max_mean_word_len").getOrElse(d.maxMeanWordLen),
        maxSymbolRatio = t.dbl("max_symbol_ratio").getOrElse(d.maxSymbolRatio),
        maxBulletFrac = t.dbl("max_bullet_frac").getOrElse(d.maxBulletFrac),
        maxEllipsisFrac = t.dbl("max_ellipsis_frac").getOrElse(d.maxEllipsisFrac),
        minAlphaFrac = t.dbl("min_alpha_frac").getOrElse(d.minAlphaFrac),
        minStopwords = t.int("min_stopwords").getOrElse(d.minStopwords))
    },
    c4Clean = section(n, "c4_clean") { (t, req) =>
      val d = C4CleanDef(req("id_field"), req("text_field"))
      d.copy(
        window = t.int("window").getOrElse(d.window),
        minSegWords = t.int("min_seg_words").getOrElse(d.minSegWords),
        minSegs = t.int("min_segs").getOrElse(d.minSegs),
        blacklist = t.strs("blacklist").getOrElse(d.blacklist))
    },
    dsirSelect = section(n, "dsir_select") { (t, req) =>
      val d = DsirSelectDef(req("id_field"), req("text_field"), req("target_path"))
      d.copy(
        targetFormat = t.str("target_format").getOrElse(d.targetFormat),
        targetTextField = t.str("target_text_field"),
        nBuckets = t.int("n_buckets").getOrElse(d.nBuckets),
        k = t.int("k").getOrElse(d.k))
    },
    repetitionFilter = section(n, "repetition_filter") { (t, req) =>
      val d = RepetitionFilterDef(req("id_field"), req("text_field"))
      d.copy(
        topThresholds = d.topThresholds.map { case (g, v) => g -> t.dbl(s"top_$g").getOrElse(v) },
        dupThresholds = d.dupThresholds.map { case (g, v) => g -> t.dbl(s"dup_$g").getOrElse(v) })
    },
    sample = section(n, "sample") { (t, req) =>
      val d = SampleDef(req("id_field"), req("strata_field"))
      d.copy(
        rates = t.dblMap("rates"),
        defaultRate = t.dbl("default_rate").getOrElse(d.defaultRate))
    },
    epochPack = section(n, "epoch_pack") { (t, req) =>
      val d = EpochPackDef(req("id_field"), req("text_field"))
      d.copy(
        budget = t.long("budget").getOrElse(d.budget),
        nShards = t.int("n_shards").getOrElse(d.nShards),
        salt = t.str("salt").getOrElse(d.salt),
        mixField = t.str("mix_field"),
        mixBudgetTokens = t.long("mix_budget_tokens").getOrElse(d.mixBudgetTokens),
        temperature = t.dbl("temperature").getOrElse(d.temperature),
        mergesPath = t.str("merges_path"),
        mergesFormat = t.str("merges_format").getOrElse(d.mergesFormat),
        trainMerges = t.int("train_merges").getOrElse(d.trainMerges),
        layout = t.str("layout").getOrElse(d.layout),
        diffField = t.str("diff_field"))
    })
}
