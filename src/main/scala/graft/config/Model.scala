package graft.config

/** Declarative pipeline configuration — the engine's "query language".
  *
  * Schema mirrors the reference's `PipelineDefinition` surface
  * (reference: src/config/sequence_config.rs:25-175) so a user of the
  * reference can express the same pipelines, generalized with file
  * sources (the natural Spark idiom; SURVEY §7.1). Values are plain
  * Scala case classes, and their parameter defaults are the config
  * defaults. `TomlConfig` loads the reference's `.toml` layout through
  * graft's own `Toml` parser, `JsonConfig` loads the JSON rendering, and
  * both decode the tables their layouts share through `TableDecoder`.
  */

/** HTTP request shape (S2/S3): method, headers, query params, payload,
  * timeout. Reference: contextual_pipeline.rs:443-510. */
final case class HttpRequestDef(
    endpoint: String,
    method: String = "GET",
    headers: Map[String, String] = Map.empty,
    queryParams: Map[String, String] = Map.empty,
    payload: Option[String] = None,
    contentType: Option[String] = None,
    timeoutSeconds: Int = 30)

sealed trait SourceDef

/** S1-S3 — single HTTP call. */
final case class ApiSource(http: HttpRequestDef) extends SourceDef

/** File scan (parquet/csv/json/orc) — the Spark-native generalization. */
final case class FileSource(
    path: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty) extends SourceDef

/** S5 — a named previous pipeline's output (None = latest). */
final case class PreviousSource(pipeline: Option[String] = None) extends SourceDef

/** S6 — all previous outputs, schema-drift union. */
case object CombinedSource extends SourceDef

/** S7 — previous outputs unioned with a fresh API read. */
final case class MergedApiSource(http: HttpRequestDef) extends SourceDef

/** S4/J2 — parameterized fan-out: one call per previous record,
  * `{param}` placeholders filled from that record. */
final case class ParameterizedApiSource(
    http: HttpRequestDef,
    fromPipeline: Option[String] = None,
    rateLimitMs: Long = 0L) extends SourceDef

/** D1/D2/O1 — extract-phase dedup then sort.
  * Reference: contextual_pipeline.rs:608-676. */
final case class DataProcessingDef(
    deduplicate: Boolean = false,
    deduplicateFields: Seq[String] = Nil,
    sortBy: Option[String] = None,
    sortOrder: String = "asc",
    /** true = reference-bug-compatible lexicographic compare. */
    sortAsString: Boolean = false)

/** F4/F5/F6/S8 + D/O block. Reference: sequence_config.rs:60-80. */
final case class ExtractDef(
    /** Reference-location field mapping (sequence_config.rs:73): applied
      * right after the source, so the filters/dedup/sort below see the
      * MAPPED names — the reference's extract-phase semantics. Graft's
      * JSON configs may instead use transform.field_mapping (applied
      * later, in the transform phase). */
    fieldMapping: Map[String, String] = Map.empty,
    maxRecords: Option[Int] = None,
    /** Fan-out parallelism (reference `concurrent_requests`, declared
      * but sequential there): number of partitions — and therefore
      * concurrent HTTP streams — the S4 fan-out runs with. Unset = keep
      * the upstream partitioning. */
    concurrentRequests: Option[Int] = None,
    firstRecordOnly: Boolean = false,
    filters: Map[String, Any] = Map.empty,
    processing: DataProcessingDef = DataProcessingDef(),
    /** S8 — "use_sample_data" (reference default) or "fail". */
    onApiFailure: String = "use_sample_data",
    /** JSON object strings used when the API fails. */
    sampleData: Seq[String] = Nil)

/** F1/C1 — intermediate branch conditions + shared-data export.
  * Reference: contextual_pipeline.rs:1064-1117. */
final case class IntermediateDef(
    conditions: Map[String, Any] = Map.empty,
    /** F2-style strict lower bounds (the SimplePipeline's hardcoded
      * `value > 20` branch, simple_pipeline.rs:113-116): the field must
      * be present and numerically greater than the bound. A missing
      * field yields an EMPTY branch — the reference coerces missing to
      * 0, which never clears a positive bound. */
    minConditions: Map[String, Double] = Map.empty,
    sharedKey: String = "")

/** Transform-phase config (§2.2, §2.4, §2.7).
  * Reference: sequence_config.rs:82-108. */
final case class TransformDef(
    fieldMapping: Map[String, String] = Map.empty,
    keepOnlyFields: Seq[String] = Nil,
    excludeFields: Seq[String] = Nil,
    cleanText: Boolean = false,
    normalizeFields: Seq[String] = Nil,
    trimWhitespace: Boolean = false,
    removeHtmlTagsFields: Seq[String] = Nil,
    computedFields: Map[String, String] = Map.empty,
    /** X3 record_index determinism: explicit total-order columns for the
      * index. Empty = fall back to the frame's first column, which is
      * only deterministic when that column is unique — configs indexing
      * fan-out/HTTP results should always set this. */
    recordIndexOrderBy: Seq[String] = Nil,
    /** J3 placeholder enrichment: src -> dst. */
    enrichment: Map[String, String] = Map.empty,
    /** S9/J3 real lookup: path of a small table broadcast-joined on key. */
    lookup: Option[LookupDef] = None,
    /** J1 — merge previous output into this one, API-wins. */
    mergeWithPrevious: Boolean = false,
    mergeKey: String = "id",
    /** LLM-extension: MinHash near-dup removal (LD2 + CC keep-min). */
    nearDedup: Option[NearDedupDef] = None,
    /** LLM-extension: winnowing local-overlap removal (LD14 + CC). */
    winnowDedup: Option[WinnowDedupDef] = None,
    /** LLM-extension: multimodal payload near-dedup (LM5) — perceptual
      * 60-bit blockhash fingerprint over the payload bytes, the SAME
      * corpus-scaled banded Hamming search as text SimHash, CC
      * keep-min (mirrors near_dedup's pairs → groups → left-semi
      * shape). A StringType field is UTF-8-encoded first, so configs
      * whose records carry base text can exercise the path end-to-end;
      * a BinaryType field rides as-is. */
    payloadDedup: Option[PayloadDedupDef] = None,
    /** LLM-extension: incremental multimodal near-dedup against a
      * historical MEDIA registry loaded from a path — "dedup today's
      * crawl against the media store" as a declarative pipeline stage
      * (LM6; see MultimodalOps.payloadIncrementalNearDup). The probe
      * join is new-batch-sized; recall is pigeonhole-exact, every
      * collision popcount-verified. */
    payloadDedupRegistry: Option[PayloadDedupRegistryDef] = None,
    /** LLM-extension: cross-modal canonicalization — the UNION of the
      * text SimHash near-dup graph and the payload perceptual near-dup
      * graph, connected components keep each component's min id (see
      * MultimodalOps.crossModalDupGroups). Collapses text-identical
      * pages carrying different media AND media-identical posts with
      * paraphrased captions in one stage. */
    crossModalDedup: Option[CrossModalDedupDef] = None,
    /** LLM-extension: perceptual IMAGE near-dedup (LM8) — real JDK
      * decode, 60-bit aHash over decoded pixels, corpus-scaled banded
      * Hamming search, CC keep-min. `payloadField` must carry real
      * encoded image bytes (BinaryType; a StringType field UTF-8-
      * encodes first, and bytes that don't decode as an image simply
      * produce no pairs — undecodable rows always survive: no
      * perceptual information is no evidence of duplication). */
    imageDedup: Option[ImageDedupDef] = None,
    /** LLM-extension: SEMANTIC image near-dedup (LM9) — the grid-cell
      * contrast embedding (`ImageOps.imageEmbedding`, DC-killed so
      * exposure shifts don't pair) through the banded hyperplane-LSH +
      * exact-cosine ANN stack; robust to resize/re-encode where aHash
      * bit drift fails. Same keep-min canonicalization. */
    imageSemanticDedup: Option[ImageSemanticDedupDef] = None,
    /** LLM-extension: drop docs contaminated by an eval-set registry
      * (n-gram overlap screen + winnowing containment verify). */
    decontaminate: Option[DecontaminateDef] = None,
    /** LLM-extension: excise passages borrowed from earlier docs
      * (winnow span report mapped back to raw text; see
      * TextOps.stripDupSpans). Like near_dedup this is EAGER Spark
      * work at transform build. */
    stripDupSpans: Option[StripDupSpansDef] = None,
    /** LLM-extension: drop docs near-duplicating a historical corpus
      * loaded from a path (MinHash band-registry probe + exact
      * Jaccard verify; see LlmOps.incrementalNearDedup). */
    nearDedupRegistry: Option[NearDedupRegistryDef] = None,
    /** LLM-extension: keep only docs whose predicted language (LT1
      * stopword heuristic over `field`) is in the allowed set. */
    langFilter: Option[LangFilterDef] = None,
    /** LLM-extension: keep only docs whose LT2 quality score over
      * `field` clears `min`. */
    qualityFilter: Option[QualityFilterDef] = None,
    /** LLM-extension: keep only docs whose hashed-linear classifier
      * score (fastText-style model at `weightsPath`) clears `min`;
      * the score lands as a `classifier_score` column. */
    classifierFilter: Option[ClassifierFilterDef] = None,
    /** LLM-extension: TRAIN the classifier in-pipeline from labeled
      * seed sources, then gate on the trained score (LT26; see
      * TextOps.classifierTrain). */
    classifierTrain: Option[ClassifierTrainDef] = None,
    /** LLM-extension: stupid-backoff trigram LM perplexity gate
      * (LT28; see TextOps.lmStupidBackoff) — TRAIN the count tables
      * on this frame's `trainSource` reference split, keep docs whose
      * bits-per-trigram clears the integer gate. Docs with fewer than
      * 3 words have no trigrams and drop. */
    lmFilter: Option[LmFilterDef] = None,
    /** LLM-extension: keep only docs passing the Gopher rule set
      * (LT21; see TextOps.gopherRules). */
    gopherFilter: Option[GopherFilterDef] = None,
    /** LLM-extension: C4-style segment cleaning (LT22) — rewrite
      * `textField` to the surviving segments, drop docs keeping fewer
      * than `minSegs`. */
    c4Clean: Option[C4CleanDef] = None,
    /** LLM-extension: DSIR importance selection (LD19) — keep the
      * top-k docs by hashed-unigram log-likelihood ratio against the
      * target corpus at `targetPath`. */
    dsirSelect: Option[DsirSelectDef] = None,
    /** LLM-extension: keep only docs passing the Gopher repetition
      * battery (LT23; see TextOps.gopherRepetition). */
    repetitionFilter: Option[RepetitionFilterDef] = None,
    /** LLM-extension: deterministic per-stratum hash sampling (LT8). */
    sample: Option[SampleDef] = None,
    /** LLM-extension: the training-data ENDGAME as a config stage —
      * optional temperature mixing over the (already gated) frame,
      * deterministic epoch shuffle into shards, and token-exact
      * packing of BPE ids. REPLACES the frame with the packed long
      * form (shard, seq_no, seq_pos, idField, tid) — the columnar
      * layout a Parquet/CSV sink writes directly; runs after every
      * gate/sample stage (computed fields and flags, if configured,
      * apply to the PACKED form). llm_epoch_assembly is the
      * oracle-replayed twin of this dataflow. */
    epochPack: Option[EpochPackDef] = None,
    addProcessedFlags: Boolean = true,
    intermediate: Option[IntermediateDef] = None,
    /** Post-transform validation (declared-but-dead in the reference,
      * sequence_config.rs:108-115; implemented honestly here): missing
      * required columns or a record count outside [min,max] fail the
      * pipeline. min/max force one count — a deliberate action barrier. */
    validation: Option[ValidationDef] = None)

final case class ValidationDef(
    requiredFields: Seq[String] = Nil,
    minRecords: Option[Long] = None,
    maxRecords: Option[Long] = None)

final case class LookupDef(
    path: String,
    format: String = "csv",
    key: String,
    options: Map[String, String] = Map.empty)

/** LLM-extension: near-duplicate removal inside a pipeline's transform —
  * banded MinHash LSH candidates → connected components → keep each
  * cluster's minimum-id row (see LlmOps.minHashCandidatePairs /
  * dedupGroups). Note: clustering is iterative and therefore EAGER (it
  * runs Spark jobs during the transform build). */
final case class NearDedupDef(
    idField: String,
    textField: String,
    shingleSize: Int = 2)

/** LLM-extension: winnowing overlap dedup (LD14 pairs + CC keep-min) —
  * catches LOCAL overlap (a shared passage inside otherwise-different
  * documents) that MinHash's global Jaccard dilutes below any usable
  * threshold. A doc joins a dedup cluster when it shares ≥ minShared
  * selected fingerprints AND containment ≥ minOverlap with a
  * cluster-mate; the minimum id per cluster is kept. */
final case class WinnowDedupDef(
    idField: String,
    textField: String,
    k: Int = 8,
    w: Int = 4,
    maxDocsPerFp: Long = 50,
    minShared: Long = 2,
    minOverlap: Double = 0.5)

/** LLM-extension: multimodal payload near-dedup (LM5 + CC keep-min) —
  * perceptual blockhash fingerprints over the opaque payload bytes,
  * banded Hamming candidate pairs (pigeonhole-exact for maxHamming ≤ 3
  * at every corpus size), connected components, keep each cluster's
  * minimum id. `payloadField` may be BinaryType (rides as-is) or
  * StringType (UTF-8-encoded — the zero-egress stand-in for decoded
  * media bytes). */
final case class PayloadDedupDef(
    idField: String,
    payloadField: String,
    maxHamming: Int = 3)

/** LLM-extension: incremental multimodal near-dedup against a media
  * registry at `historyPath` — the new batch's perceptual fingerprints
  * probe the historical (band, slice) space; a new payload within
  * `maxHamming` of ANY historical payload drops (exact recall: bands >
  * maxHamming, so a true near-dup always shares a whole band; every
  * collision is popcount-verified before dropping). History field
  * names default to the batch-side names. `payloadField` may be
  * BinaryType or StringType (UTF-8-encoded stand-in), independently
  * per side. */
final case class PayloadDedupRegistryDef(
    idField: String,
    payloadField: String,
    historyPath: String,
    historyFormat: String = "parquet",
    historyIdField: String,
    historyPayloadField: String,
    maxHamming: Int = 3)

/** LLM-extension: cross-modal duplicate canonicalization — text
  * SimHash edges ∪ payload perceptual edges → one connected-components
  * pass; each component keeps its minimum id. */
final case class CrossModalDedupDef(
    idField: String,
    textField: String,
    payloadField: String,
    maxHamming: Int = 3)

/** LLM-extension: perceptual image near-dedup — decode, aHash60,
  * banded Hamming pairs within `maxHamming`, keep each CC component's
  * min id (see ImageOps.imageNearDupPairs). */
final case class ImageDedupDef(
    idField: String,
    payloadField: String,
    maxHamming: Int = 3)

/** LLM-extension: semantic image near-dedup — grid-cell contrast
  * embedding into banded hyperplane LSH + exact-cosine verify at
  * `threshold`, keep each CC component's min id (see
  * ImageOps.imageSemanticNearDupPairs). `grid` sets the embedding
  * lattice (grid²·3 dims). */
final case class ImageSemanticDedupDef(
    idField: String,
    payloadField: String,
    threshold: Double = 0.99,
    grid: Int = 4)

/** LLM-extension: eval-set decontamination inside a pipeline's
  * transform — documents sharing ≥ minOverlapNgrams distinct word
  * n-grams with ANY registry document AND winnow-containment ≥
  * minContainment against the registry fingerprint set are dropped
  * (see LlmOps.decontaminate). The registry at `benchPath` is a small
  * table (eval suites), loaded like a lookup and broadcast. */
final case class DecontaminateDef(
    idField: String,
    textField: String,
    benchPath: String,
    benchFormat: String = "parquet",
    benchIdField: String,
    benchTextField: String,
    n: Int = 3,
    minOverlapNgrams: Long = 5,
    k: Int = 8,
    w: Int = 4,
    minContainment: Double = 0.5)

/** LLM-extension: passage-level dedup inside a pipeline's transform —
  * duplicated spans (winnowing fingerprints attributed to their min-id
  * owner, merged gaps-and-islands style) are cut from the raw text of
  * every non-owner doc; the novel remainder survives where whole-doc
  * dedup would have dropped it. */
final case class StripDupSpansDef(
    idField: String,
    textField: String,
    k: Int = 8,
    w: Int = 4,
    maxDocsPerFp: Long = 50,
    gap: Long = 32,
    minFps: Long = 2)

/** LLM-extension: incremental near-dedup against a historical corpus
  * (the "new crawl vs existing 100 TB" shape) — the frame's MinHash
  * bands probe the registry corpus at `historyPath`; collision pairs
  * are exact-verified (n-gram Jaccard ≥ minJaccard drops the doc). */
final case class NearDedupRegistryDef(
    idField: String,
    textField: String,
    historyPath: String,
    historyFormat: String = "parquet",
    historyIdField: String,
    historyTextField: String,
    shingleSize: Int = 2,
    minJaccard: Double = 0.5)

final case class LangFilterDef(field: String, allowed: Seq[String] = Nil)

final case class QualityFilterDef(field: String, min: Double = 0.0)

/** LLM-extension: hashed-linear classifier filter inside a pipeline's
  * transform — fastText-style quality gating: score each row's
  * `textField` with a logistic regression over a hashed bag-of-words
  * (fixed-point integer weight table loaded from `weightsPath`,
  * broadcast; see TextOps.classifierScore) and keep rows with
  * score >= min. The score is attached as `classifier_score`. */
final case class ClassifierFilterDef(
    idField: String,
    textField: String,
    weightsPath: String,
    weightsFormat: String = "parquet",
    nBuckets: Int = 1024,
    scale: Double = 1000.0,
    bias: Double = 0.0,
    min: Double = 0.5)

/** LLM-extension: in-pipeline classifier TRAINING (the GPT-3/LLaMA
  * quality-filter recipe end-to-end): rows whose `srcField` equals
  * `posSource` / `negSource` form the seed sets, TextOps.classifierTrain
  * fits the hashed-presence logistic model (engine-exact fixed-point
  * GD), every row is scored through classifierScore with the trained
  * weights (micro-unit scale 2^20), the score lands as
  * `classifier_score`, and rows below `min` drop. */
final case class ClassifierTrainDef(
    idField: String,
    textField: String,
    posSource: String,
    negSource: String,
    srcField: String = "source",
    nBuckets: Int = 1024,
    iters: Int = 3,
    lrDen: Long = 4096L,
    min: Double = 0.5)

/** LLM-extension: stupid-backoff trigram LM perplexity gate inside a
  * pipeline's transform (the CCNet position): count tables train on
  * the rows whose `srcField` equals `trainSource`, every row's
  * trigrams score with backoff, and rows whose −Σscore exceeds
  * `threshBits` bits/gram (compared as UNROUNDED integers) drop —
  * as do sub-trigram rows (see TextOps.lmStupidBackoff). */
final case class LmFilterDef(
    idField: String,
    textField: String,
    srcField: String,
    trainSource: String,
    threshBits: Int = 8)

/** LLM-extension: gate→mix→shuffle→tokenize→pack as config (see
  * TextOps.temperatureMix / epochShuffle / packTokenIdsBy). The
  * merge table comes from `mergesPath` ((rank, x, y) rows read
  * rank-ascending — the bpeTrainTable artifact), from in-engine
  * training (`trainMerges` > 0 runs TextOps.bpeTrainLocal on the
  * gated frame: one word-frequency agg + a driver-local merge loop),
  * or defaults to the built-in English table. Mixing runs only when
  * `mixField` is set (then `mixBudgetTokens` must be positive);
  * `budget` is tokens per packed sequence, `nShards`/`salt` drive
  * the deterministic epoch shuffle. */
final case class EpochPackDef(
    idField: String,
    textField: String,
    budget: Long = 512L,
    nShards: Int = 4,
    salt: String = "epoch1",
    mixField: Option[String] = None,
    mixBudgetTokens: Long = 0L,
    temperature: Double = 2.0,
    mergesPath: Option[String] = None,
    mergesFormat: String = "parquet",
    trainMerges: Int = 0,
    /** Sequence layout: "shuffle" (deterministic epoch shuffle — the
      * default), "curriculum" (difficulty bands via quantile
      * boundaries, TextOps.curriculumLayout), or "curriculum_range"
      * (equal-width bands, the hash-comparable twin). The curriculum
      * layouts rank by `diffField` ascending (easiest first) and use
      * `nShards` as the band count; `diffField` must be a column on
      * the gated frame (e.g. a quality or LM score computed
      * upstream).
      *
      * DETERMINISM: "curriculum" derives its band boundaries from
      * percentile_approx, whose sketch merge is partition-order-
      * dependent — two otherwise-identical runs (or a repartitioned
      * rerun) can place a boundary-adjacent document in a different
      * band, so the packed epoch order is NOT rerun-invariant. Every
      * other layout is: "shuffle" orders by a salted hash and
      * "curriculum_range" computes boundaries from min/max (order-free
      * aggregates) with IEEE-exact arithmetic. Pick curriculum_range
      * (or shuffle) when the training run must be bit-reproducible;
      * curriculum buys balanced band SIZES at the cost of reproducible
      * band PLACEMENT. */
    layout: String = "shuffle",
    diffField: Option[String] = None)

/** LLM-extension: Gopher rule-set quality gate inside a pipeline's
  * transform — keep rows whose `textField` passes every rule (see
  * TextOps.gopherRules for the rule semantics and defaults). */
final case class GopherFilterDef(
    idField: String,
    textField: String,
    minWords: Long = 50,
    maxWords: Long = 100000,
    minMeanWordLen: Double = 3.0,
    maxMeanWordLen: Double = 10.0,
    maxSymbolRatio: Double = 0.1,
    maxBulletFrac: Double = 0.9,
    maxEllipsisFrac: Double = 0.3,
    minAlphaFrac: Double = 0.8,
    minStopwords: Int = 2)

/** LLM-extension: C4-style segment cleaning inside a pipeline's
  * transform — `textField` is rewritten to the segments that pass the
  * keep-rules (≥ minSegWords words, no blacklisted token) and rows
  * keeping fewer than `minSegs` segments drop (see TextOps.c4Clean). */
final case class C4CleanDef(
    idField: String,
    textField: String,
    window: Int = 10,
    minSegWords: Int = 5,
    minSegs: Int = 3,
    blacklist: Seq[String] =
      Seq("lorem", "ipsum", "javascript", "{", "}"))

/** LLM-extension: Gopher repetition gate inside a pipeline's
  * transform — keep rows whose `textField` passes the full top/dup
  * n-gram coverage battery (see TextOps.gopherRepetition; thresholds
  * are the published defaults, overridable per n as `top_2`..`top_4`
  * and `dup_5`..`dup_10`). */
final case class RepetitionFilterDef(
    idField: String,
    textField: String,
    topThresholds: Map[Int, Double] =
      Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
    dupThresholds: Map[Int, Double] =
      Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
          9 -> 0.11, 10 -> 0.10))

/** LLM-extension: DSIR importance selection inside a pipeline's
  * transform — score each row's `textField` by the hashed-unigram
  * log-likelihood ratio against the target corpus at `targetPath`
  * and keep the top `k` (see TextOps.dsirWeights/dsirScores). The
  * fixed-point score lands as `dsir_score`. */
final case class DsirSelectDef(
    idField: String,
    textField: String,
    targetPath: String,
    targetFormat: String = "parquet",
    targetTextField: Option[String] = None,
    nBuckets: Int = 4096,
    k: Int = 1000)

/** LLM-extension: deterministic stratified sampling inside a pipeline's
  * transform — the data-mixing step ("keep 50% of en, 10% of the
  * rest"). Hash-Bernoulli on (stratum ":" id), so reruns and engine
  * changes keep the identical sample (see TextOps.stratifiedSample). */
final case class SampleDef(
    idField: String,
    strataField: String,
    rates: Map[String, Double] = Map.empty,
    defaultRate: Double = 0.0)

/** Sinks (§2.10): formats ∈ {csv,tsv,json,parquet}; zip packages the
  * formats into one archive (reference W6). */
final case class LoadDef(
    outputPath: String,
    formats: Seq[String] = Seq("csv"),
    /** T6 — {pipeline_name}/{execution_id}/{timestamp} placeholders. */
    filenamePattern: String = "{pipeline_name}_output",
    zip: Boolean = false,
    includeMetadata: Boolean = false,
    /** W9 — per-format filenames (declared-only in reference). */
    filenames: Map[String, String] = Map.empty,
    /** Hive-style partition columns for the distributed writers:
      * `partition_by = ["date"]` lays files out as `date=.../part-*` so
      * downstream scans with a partition predicate prune whole
      * directories (PartitionFilters, zero I/O for skipped partitions). */
    partitionBy: Seq[String] = Nil,
    /** Reference-parity escape hatch: render one file per format on the
      * driver (required for zip). DEFAULT IS DISTRIBUTED — the
      * DataFrameWriter path scales to any size; the single-file path is
      * opt-in and hard-capped by `singleFileMaxRows` so a misconfigured
      * load can never OOM the driver at scale. */
    singleFile: Boolean = false,
    /** Upper bound on rows the single-file/zip renderer will accept. */
    singleFileMaxRows: Long = 1000000L,
    /** Distributed-sink write mode: "overwrite" (default), "append"
      * (incremental loads), or "overwrite_partitions" — dynamic
      * partition overwrite, replacing ONLY the partitions present in
      * this run's frame (the standard incremental-refresh pattern:
      * rewrite today's date partition, leave history untouched).
      * Requires `partitionBy`. */
    mode: String = "overwrite",
    /** Small-files control for the distributed writers: cap rows per
      * output file (0 = Spark default). At 100 TB the sink's file-count
      * discipline decides whether downstream scans read thousands of
      * right-sized files or millions of tiny ones. */
    maxRecordsPerFile: Long = 0L,
    /** Honest implementation of the reference's parsed-but-dead
      * `load.append_to_sequence` (sequence_config.rs:129, the declared
      * "追加到序列輸出" / append-to-sequence-output intent): pipelines
      * that set it ALSO contribute their output to one sequence-level
      * combined dataset, written once after the execution order
      * completes (drift-tolerant union by name, the S6 rule). Only
      * pipelines that actually ran contribute — the same conditions
      * machinery governs membership. */
    appendToSequence: Boolean = false)

/** C2 — conditional execution. Reference: sequence_config.rs:140-152. */
final case class ConditionsDef(
    enabled: Boolean = true,
    whenPreviousSucceeded: Boolean = false,
    whenRecordsCount: Option[RecordsCountCond] = None,
    whenSharedData: Map[String, Any] = Map.empty,
    skipIfEmpty: Boolean = false)

final case class RecordsCountCond(
    min: Option[Long] = None,
    max: Option[Long] = None,
    fromPipeline: Option[String] = None)

final case class PipelineDef(
    name: String,
    source: SourceDef,
    extract: ExtractDef = ExtractDef(),
    transform: TransformDef = TransformDef(),
    load: Option[LoadDef] = None,
    dependencies: Seq[String] = Nil,
    conditions: ConditionsDef = ConditionsDef())

/** Top-level sequence. Reference: sequence_config.rs:8-23. */
final case class SequenceDef(
    name: String,
    executionOrder: Seq[String],
    pipelines: Seq[PipelineDef],
    /** T2 — `${NAME}` substitutions applied at config load. */
    sharedVariables: Map[String, String] = Map.empty,
    /** C3 — "stop" (reference behavior) | "continue". */
    onPipelineFailure: String = "stop",
    /** Honest implementation of the reference's declared-but-dead
      * `error_handling.on_transform_error` (toml_config.rs:108):
      * "stop" (default) = a transform-phase failure aborts per
      * `onPipelineFailure`; "skip"/"continue" = the pipeline is recorded
      * failed and the sequence continues regardless of that policy. */
    onTransformError: String = "stop",
    /** `error_handling.on_load_error` (toml_config.rs:109): "stop"
      * (default) = a sink failure aborts per `onPipelineFailure`;
      * "skip"/"continue" = the failure is recorded but the TRANSFORMED
      * frame stays available to later pipelines (by-name previous
      * source) and the sequence continues. */
    onLoadError: String = "stop",
    retryAttempts: Int = 0,
    retryDelayMs: Long = 0L,
    /** [monitoring] (reference sequence_config.rs:167-173): enables the
      * system monitor and names the default metrics file. */
    monitoringEnabled: Boolean = false,
    metricsFile: Option[String] = None)
