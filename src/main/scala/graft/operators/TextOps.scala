package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (brief: language
  * ID, quality scoring, token counting, fingerprinting). All are
  * per-row, shuffle-free, codegen-friendly column expressions — at
  * 100 TB they run as a single pass over the corpus fused with the scan
  * (no explode, no aggregation; the only wide op any caller might add
  * is a downstream groupBy on the fingerprint). */
object TextOps {

  /** Minimal per-language stopword lists for the n-gram/stopword
    * language-ID heuristic. Small by design: broadcastable literals,
    * overlap between Romance languages is resolved by the deterministic
    * precedence in [[langId]]. */
  val StopEn = Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "was")
  val StopDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu")
  val StopEs = Seq("el", "los", "y", "es", "una", "en", "que", "por", "del", "se")
  val StopFr = Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "il")

  private def stopCount(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => array_contains(array(stops.map(lit): _*), w)))

  /** Language ID: count stopword matches per language over lowercased
    * whitespace tokens; highest count wins with fixed precedence
    * en > de > es > fr on ties; no match → "und". */
  def langId(textCol: Column): Column = {
    val ws = LlmOps.words(textCol)
    val (en, de, es, fr) = (stopCount(ws, StopEn), stopCount(ws, StopDe),
      stopCount(ws, StopEs), stopCount(ws, StopFr))
    when(en > 0 && en >= de && en >= es && en >= fr, "en")
      .when(de > 0 && de >= es && de >= fr, "de")
      .when(es > 0 && es >= fr, "es")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Per-language character-trigram profiles for [[langIdNgram]] —
    * the textcat/CLD family's signal at heuristic size: the most
    * characteristic trigrams of each language incl. word-boundary
    * forms (space-padded). ASCII-only so the profiles travel between
    * engines verbatim. */
  val TriEn = Seq("the", "he ", " th", "ing", "nd ", "and", " an",
    "ion", " of", "of ", "at ", "ent", " to", "to ", "er ")
  val TriDe = Seq("der", "ein", "sch", "ich", "nde", "die", "und",
    " de", "en ", "cht", "ung", "das", " ge", "ber", "ter")
  val TriEs = Seq(" de", "de ", "os ", "la ", " la", "que", " qu",
    "ent", "en ", "el ", " el", "ue ", "as ", "ado", "nte")
  val TriFr = Seq(" de", "de ", "es ", "le ", " le", "ent", "nt ",
    "que", " qu", "ion", "et ", " et", "eur", "ait", "les")

  /** Language ID by character-trigram profile overlap — the brief's
    * "n-gram heuristic" proper, beside [[langId]]'s stopword count:
    * extract the doc's char trigrams ONCE (a per-row array over the
    * lowercased text), score each language as the number of trigram
    * tokens present in its profile, highest count wins with the same
    * en > de > es > fr tie precedence; no hit → "und". Catches short
    * or stopword-free text the word-level heuristic misses (trigram
    * statistics survive even in fragments). Per-row, shuffle-free,
    * fuses with the scan. */
  def langIdNgram(textCol: Column): Column = {
    val t = lower(textCol)
    val tris = when(length(t) >= 3,
      transform(sequence(lit(1), length(t) - 2), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    def score(profile: Seq[String]): Column =
      size(filter(tris, x =>
        array_contains(array(profile.map(lit): _*), x)))
    val (en, de, es, fr) =
      (score(TriEn), score(TriDe), score(TriEs), score(TriFr))
    when(en > 0 && en >= de && en >= es && en >= fr, "en")
      .when(de > 0 && de >= es && de >= fr, "de")
      .when(es > 0 && es >= fr, "es")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Composite quality score in [0,1] as a single Column expression:
    * 0.4 * min(1, words/50) + 0.3 * stopword_ratio + 0.3 * (1 - punct_ratio).
    * Deterministic double arithmetic (same op order in the oracle).
    * Empty text scores an explicit 0.0 — without the guard the 0/0
    * ratios go NaN and a quality_filter silently drops the row for the
    * wrong reason (and `split("", " ")` would count one word). */
  def qualityScore(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise {
      val ws = LlmOps.words(text)
      val nWords = size(ws).cast("long")
      val stopRatio = stopCount(ws, StopEn).cast("double") / nWords
      val punct = length(regexp_replace(lower(text), "[a-z0-9 ]", ""))
      val punctRatio = punct.cast("double") / length(text)
      least(lit(1.0), nWords / lit(50.0)) * 0.4 +
        stopRatio * 0.3 + (lit(1.0) - punctRatio) * 0.3
    }

  /** Quality signals + the composite score, one row per document.
    * Empty text yields all-zero signals (same guard as the score). */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val ws = LlmOps.words(text)
    val empty = length(text) === 0
    val nWords = when(empty, lit(0L)).otherwise(size(ws).cast("long"))
    val stopRatio = when(empty, lit(0.0))
      .otherwise(stopCount(ws, StopEn).cast("double") / size(ws).cast("long"))
    val punct = length(regexp_replace(lower(text), "[a-z0-9 ]", ""))
    val punctRatio = when(empty, lit(0.0))
      .otherwise(punct.cast("double") / length(text))
    df.select(col(idCol), nWords.as("n_words"),
      round(stopRatio, 6).as("stop_ratio"),
      round(punctRatio, 6).as("punct_ratio"),
      round(qualityScore(text), 6).as("quality"))
  }

  /** Token counts: whitespace tokens, alphanumeric regex tokens, and the
    * chars/4 BPE-style estimate. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val alnum = filter(split(lower(text), "[^a-z0-9]+"), x => length(x) > 0)
    df.select(col(idCol),
      size(split(text, " ")).cast("long").as("ws_tokens"),
      size(alnum).cast("long").as("alnum_tokens"),
      ceil(length(text) / lit(4.0)).cast("long").as("bpe_est"))
  }

  /** A small, realistic English merge list for [[bpeTokenCount]]'s
    * default vocabulary — common digraphs first (rank = list order),
    * then the compound merges built from them, the shape a learned BPE
    * vocabulary actually has. */
  val BpeMergesEn: Seq[(String, String)] = Seq(
    ("t", "h"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("e", "n"), ("a", "t"), ("o", "u"), ("e", "s"),
    ("o", "r"), ("a", "l"), ("i", "t"), ("i", "s"), ("e", "d"),
    ("th", "e"), ("in", "g"), ("an", "d"), ("t", "o"), ("o", "f"),
    ("s", "t"), ("a", "r"), ("l", "l"), ("o", "o"), ("c", "h"))

  /** REAL byte-pair-encoding token counts — the upgrade of
    * [[tokenCounts]]' chars/4 estimate: each lowercased whitespace word
    * is encoded against a fixed ranked merge table by the native
    * [[graft.functions.BpeTokens]] kernel (repeatedly merge the
    * min-(rank, position) adjacent pair; bounded by word length), and
    * the doc's count is the sum of its words' symbol counts.
    *
    * Scale shape: entirely per-row — the vocabulary rides inside the
    * expression to every executor ONCE (a codegen reference object,
    * exactly a broadcast model table) and the encode loop fuses with
    * the scan: no explode, no shuffle, no driver involvement. At
    * 100 TB this is the same plan as any per-row scalar projection.
    *
    * Output: (idCol, n_words, n_chars, bpe_tokens) — n_chars kept for
    * the chars-per-token compression ratio callers chart. */
  def bpeTokenCount(
      df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = BpeMergesEn): DataFrame = {
    requireBpeTableSize(merges.size, 0)
    val ws = LlmOps.words(col(textCol))
    def bpe(w: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BpeTokens(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(w), merges))
    df.select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
      ws.as("__ws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        col("n_chars"),
        aggregate(transform(col("__ws"), w => size(bpe(w)).cast("long")),
          lit(0L), (a, x) => a + x).as("bpe_tokens"))
  }

  /** Supported BPE table bound, MEASURED not guessed
    * (`bench_r13_bpe32k_probe.json`, sf1): a GPT-2-sized 32768-merge
    * table changed the executed-plan string by 16 chars (804 → 820 —
    * the tables ride as codegen REFERENCE OBJECTS, never literal plan
    * nodes, so the classifier-literal plan-size bomb does not exist
    * here) and cost 1.28× encode wall-clock for a 1310× larger table.
    * The real ceiling is the serialized task binary (the expression —
    * and its tables — ships once per stage): 2^17 entries ≈ a few MB,
    * past which a caller should reshape to a join against a broadcast
    * merge-table FRAME rather than grow the expression. Fails loud at
    * the bound, naming that alternative. */
  private def requireBpeTableSize(nMerges: Int, nVocab: Int): Unit = {
    val cap = 1 << 17
    require(nMerges <= cap && nVocab <= cap,
      s"BPE table too large for the in-expression form ($nMerges merges, " +
        s"$nVocab vocab entries; supported bound $cap each — measured flat " +
        "to 32k): encode against a broadcast merge-table frame instead of " +
        "growing the expression-embedded table")
  }

  /** Per-row BPE token count as a plain Column (the [[bpeTokenCount]]
    * kernel without the report frame) — for composition into other
    * operators, e.g. packing by REAL token counts. */
  def bpeTokenCountCol(
      textCol: Column,
      merges: Seq[(String, String)] = BpeMergesEn): Column = {
    requireBpeTableSize(merges.size, 0)
    def bpe(w: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BpeTokens(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(w),
          merges))
    aggregate(
      transform(LlmOps.words(textCol), w => size(bpe(w)).cast("long")),
      lit(0L), (a, x) => a + x)
  }

  /** TRAIN a BPE merge table in-engine — the missing half of
    * [[bpeTokenCount]]'s fixed-vocabulary inference slot, exactly as
    * [[classifierTrain]] closed [[classifierScore]]'s: learn `nMerges`
    * merges by ITERATED ARGMAX over frequency-weighted adjacent-pair
    * counts (the Sennrich et al. 2016 construction):
    *
    *  1. vocabulary = the corpus's distinct lowercased whitespace
    *     words with occurrence counts — ONE corpus scan, then every
    *     round works on the bounded vocab frame (this is why real BPE
    *     trainers run on word-frequency dictionaries);
    *  2. per round: count adjacent symbol pairs weighted by word
    *     frequency (explode + one keyed agg), pick the max with the
    *     deterministic (count desc, pair asc) tie-break — a ONE-ROW
    *     collect, the training loop's only driver traffic;
    *  3. apply the merge to every vocab word left-to-right
    *     non-overlapping (the native [[graft.functions.BpeApplyMerge]]
    *     pass), localCheckpoint (constant-size lineage, superseded
    *     blocks released — the kmeansCentroids discipline), repeat.
    *
    * Integer pair counts are order-free, so training is partition-
    * invariant and rerun-identical; the DuckDB oracle replays every
    * round verbatim (llm_bpe_train — pair counts, argmax, and the
    * run-parity merge application). Stops early if the vocabulary
    * runs out of pairs. Returns the ranked merge list, directly
    * feedable to [[bpeTokenCount]] / [[bpeTokenCountCol]]. */
  def bpeTrain(df: DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be positive: $nMerges")
    val wf = df.select(explode(LlmOps.words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    var syms = wf.select(col("word"), col("freq"),
        when(col("word") === "", array().cast("array<string>"))
          .otherwise(split(col("word"), "")).as("s"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    try {
      var r = 0
      var exhausted = false
      while (r < nMerges && !exhausted) {
        val top = syms.filter(size(col("s")) >= 2)
          .select(col("freq"), explode(transform(
            sequence(lit(0), size(col("s")) - 2),
            i => struct(
              element_at(col("s"), (i + 1).cast("int")).as("x"),
              element_at(col("s"), (i + 2).cast("int")).as("y")))).as("p"))
          .groupBy(col("p.x").as("x"), col("p.y").as("y"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("x"), col("y"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          learned += ((a, b))
          val merged = org.apache.spark.sql.graftbridge.ColumnBridge.column(
            graft.functions.BpeApplyMerge(
              org.apache.spark.sql.graftbridge.ColumnBridge.expression(
                col("s")), a, b))
          val next = syms.withColumn("s", merged).localCheckpoint(true)
          LlmOps.releaseCheckpoint(syms)
          syms = next
        }
        r += 1
      }
    } finally LlmOps.releaseCheckpoint(syms)
    learned.toSeq
  }

  /** Driver-local BPE training from a Spark-aggregated word-frequency
    * table — the PRODUCTION tokenizer-training architecture (what the
    * published tokenizer trainers do): ONE distributed agg computes
    * the word-frequency table (vocabulary-sized — sublinear in the
    * corpus, the same bounded driver traffic as [[bpeVocab]]), the
    * merge loop runs on the driver with incremental pair-count
    * updates, and the learned table ships back to executors inside
    * [[graft.functions.BpeEncodeIds]]. [[bpeTrain]] is the
    * oracle-replayable form (each round is one Spark job — right for
    * verification, unpayable at 32k merges: 32k jobs); this one
    * learns a GPT-2-sized table in seconds and produces the IDENTICAL
    * merge list: same (count desc, x, y) argmax tiebreak compared in
    * UNSIGNED UTF-8 BYTE order (Spark's UTF8String binary order — the
    * in-loop utf8Less comparator, exact for the full code-point range
    * including non-BMP symbols), same
    * left-to-right non-overlapping merge application, same
    * exhaustion rule (stops when no word has two symbols left).
    * `maxVocab` bounds the driver collect the way the classifier
    * literal cap does (TextOps.classifierScore): oversized
    * vocabularies should train on a word-frequency SAMPLE, not blow
    * the driver. */
  def bpeTrainLocal(df: DataFrame, textCol: String, nMerges: Int,
      maxVocab: Int = 1 << 20): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be positive: $nMerges")
    val wf = df.select(explode(LlmOps.words(col(textCol))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .collect()
    require(wf.length <= maxVocab,
      s"word vocabulary ${wf.length} exceeds maxVocab=$maxVocab — " +
        "train on a frequency-sampled subset or raise the cap")
    import scala.collection.mutable
    // CODE-POINT segmentation, not String.split(""): Java's split by
    // the empty pattern cuts surrogate PAIRS into lone halves while
    // Spark's split("") keeps each supplementary character whole — the
    // base alphabets would diverge on any non-BMP corpus (and lone
    // surrogates UTF-8-encode as '?', corrupting the tie-break too)
    def codePoints(w: String): Seq[String] = {
      val out = mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toSeq
    }
    val words = wf.map(r => mutable.ArrayBuffer(
      codePoints(r.getString(0)): _*))
    val freqs = wf.map(_.getLong(1))
    // pair -> weighted count; pair -> word indices containing it
    val cnt = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWord(i: Int): Unit = {
      val s = words(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        cnt.update(p, cnt.getOrElse(p, 0L) + freqs(i))
        occ.getOrElseUpdate(p, mutable.BitSet.empty) += i
        j += 1
      }
    }
    def dropWord(i: Int): Unit = {
      val s = words(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = cnt(p) - freqs(i)
        if (c == 0L) { cnt.remove(p); occ.remove(p) }
        else { cnt.update(p, c); occ(p) -= i }
        j += 1
      }
    }
    words.indices.foreach(addWord)
    // Tie-break comparator = Spark's UTF8String binary order (unsigned
    // UTF-8 bytes), NOT Java String `<` (UTF-16 code units) — the two
    // diverge for supplementary characters (emoji sort below U+E000
    // privates in UTF-16 but above in UTF-8), which would silently
    // break the identical-merge-list guarantee vs bpeTrain's orderBy
    // on non-BMP corpora. Segmentation itself agrees because BOTH
    // sides segment by code point: this local trainer walks
    // codePoints(), and Spark's UTF8String.split special-cases the
    // empty pattern to split between code points (plain Java
    // String.split("") would NOT — it yields lone surrogate halves).
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val m = math.min(x.length, y.length)
      while (i < m) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val learned = mutable.ArrayBuffer.empty[(String, String)]
    var r = 0
    while (r < nMerges && cnt.nonEmpty) {
      // argmax (count desc, x asc, y asc) — bpeTrain's orderBy
      var best: ((String, String), Long) = null
      for (e <- cnt) {
        if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (utf8Less(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Less(e._1._2, best._1._2)))))
          best = e
      }
      val (a, b) = best._1
      learned += ((a, b))
      for (i <- occ(best._1).toArray) {
        dropWord(i)
        // left-to-right non-overlapping merge (BpeApplyMerge's scan)
        val s = words(i)
        val out = mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < s.length) {
          if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += s(j); j += 1 }
        }
        words(i) = out
        addWord(i)
      }
      r += 1
    }
    learned.toSeq
  }

  /** [[bpeTrain]] as a harness frame: the learned table as
    * (rank, x, y) rows — the artifact a tokenizer build step persists. */
  def bpeTrainTable(df: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrain(df, textCol, nMerges).zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "x", "y")
  }

  /** Build the (symbol → id) vocabulary for [[bpeEncodeIds]]: id 0 is
    * reserved for UNK, ids 1..nBase are the corpus's distinct single
    * code points in codepoint order (one distinct agg + an alphabet-
    * bounded collect — the same bounded driver traffic as a k-means
    * codebook), and each merge's output symbol takes nBase + rank.
    * First writer wins on duplicate strings (two merges can compose
    * the same output; they're the same token). This is the tokenizer
    * artifact a training job persists next to the merge table. */
  def bpeVocab(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): Seq[(String, Int)] = {
    val base = df
      .select(explode(split(lower(col(textCol)), "")).as("ch"))
      .filter(col("ch") =!= "")
      .distinct().orderBy("ch")
      .collect().map(_.getString(0))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    base.zipWithIndex.foreach { case (s, i) => out.getOrElseUpdate(s, i + 1) }
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      out.getOrElseUpdate(a + b, base.length + i + 1)
    }
    out.toSeq
  }

  /** Encode every document to VOCABULARY IDS — the tokenize step a
    * pretraining pipeline actually ships, upgrading [[bpeTokenCount]]
    * from "how many tokens" to the tokens themselves. Each lowercased
    * whitespace word runs the native [[graft.functions.BpeEncodeIds]]
    * kernel (the [[graft.functions.BpeTokens]] merge loop mapped
    * through the vocab table; out-of-vocabulary symbols → 0 = UNK) and
    * the per-word id arrays concatenate in word order.
    *
    * Output is the LONG FORM (idCol, pos, tid) with pos the 0-based
    * token position within the document — one row per token, the
    * columnar layout downstream packing consumes directly; a sink
    * that wants array-per-doc groups on idCol. Scale shape: both
    * tables ride inside the expression to every executor once; the
    * encode fuses with the scan and the only row growth is the explode
    * to token granularity — no shuffle, no driver involvement. */
  def bpeEncodeIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = BpeMergesEn,
      vocab: Seq[(String, Int)] = Nil,
      carry: Seq[String] = Nil): DataFrame = {
    val v = if (vocab.nonEmpty) vocab else bpeVocab(df, textCol, merges)
    requireBpeTableSize(merges.size, v.size)
    def ids(w: Column): Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BpeEncodeIds(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(w),
          merges, v.toMap))
    // `carry` columns ride through the explode untouched — the pack
    // attaches its per-doc offsets BEFORE this pass so no join (and no
    // shuffle) ever happens at token granularity
    val keep = (col(idCol) +: carry.map(col)).toIndexedSeq
    df.select(keep :+ LlmOps.words(col(textCol)).as("__ws"): _*)
      .select(keep :+
        posexplode(flatten(transform(col("__ws"), w => ids(w))))
          .as(Seq("pos", "tid")): _*)
      .select(keep ++ Seq(col("pos").cast("long").as("pos"),
        col("tid").cast("long").as("tid")): _*)
  }

  /** Concat-and-chunk packing of REAL token ids — the GPT-style last
    * mile to the trainer: documents are [[bpeEncodeIds]]-encoded,
    * laid end-to-end in deterministic (shard, doc-id) order, and the
    * token stream is cut every `budget` tokens, so sequences are
    * token-exact and documents straddle cuts exactly as in production
    * sequence packing (contrast [[packSequences]], which bins WHOLE
    * docs by cumulative offset and lets a bin overflow its budget).
    *
    * Plan: doc start offsets come from the COUNT-ONLY kernel
    * ([[bpeTokenCountCol]] — per-row over the doc frame, no explode,
    * no id materialization: the full encode must not run twice) plus
    * ONE window cumsum per shard; the token rows from the one real
    * encode pass join their doc's offset back (a doc-sized frame —
    * broadcast-or-keyed join) and the cut is pure arithmetic: global
    * position g = offset + pos, seq_no = g div budget, seq_pos =
    * g mod budget. At 100 TB shards bound the window's sort (grow
    * nShards with the corpus — they're the output shard files;
    * compose with [[epochShuffle]] for a shuffled epoch order), and
    * no sequence array ever materializes — the long form IS the
    * columnar layout a Parquet/Arrow sink writes.
    *
    * Output: (shard, seq_no, seq_pos, idCol, tid), one row per token. */
  def packTokenIds(df: DataFrame, idCol: String, textCol: String,
      budget: Long, nShards: Int,
      merges: Seq[(String, String)] = BpeMergesEn): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    packTokenIdsBy(df, idCol, textCol, budget,
      df.select(col(idCol),
        pmod(col(idCol), lit(nShards.toLong)).as("shard"),
        col(idCol).as("pos")),
      merges)
  }

  /** [[packTokenIds]] with a CALLER-SUPPLIED layout: `order` is an
    * (idCol, shard, pos) frame — pass [[epochShuffle]]'s output and
    * the packed sequences land in shuffled, rerun-identical epoch
    * order; pass a curriculum ranking and they land by difficulty.
    * Docs absent from `order` don't pack (inner join). Same plan as
    * [[packTokenIds]]: count-only kernel + one window cumsum per
    * shard + a doc-sized offset join against the one real encode
    * pass — zero corpus-sized shuffles beyond the layout's own. */
  def packTokenIdsBy(df: DataFrame, idCol: String, textCol: String,
      budget: Long, order: DataFrame,
      merges: Seq[(String, String)] = BpeMergesEn): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"token budget must be >= 1: $budget")
    val vocab = bpeVocab(df, textCol, merges)
    val ord = order.select(col(idCol), col("shard"), col("pos").as("__dpos"))
    // r14: the per-doc offset is a DISTRIBUTED exclusive prefix sum
    // (range partition on (shard, __dpos), within-partition window,
    // per-partition totals broadcast back) — the r13 form's
    // Window.partitionBy(shard) funneled each shard's ENTIRE doc list
    // through one task, which is a single-task stage whenever the
    // layout is a global rank (shard count 1) and a billion-doc wall
    // at any shard count
    val offsets = shardPrefixSum(
      df.select(col(idCol),
          bpeTokenCountCol(col(textCol), merges).as("__n"))
        .join(ord, Seq(idCol)))
      .select(col("shard"), col(idCol), col("__off"))
    // r18 (a `curriculum_stages` probe fix): attach the offsets at DOC
    // granularity BEFORE the encode, so the join is doc-sized and the
    // encode's token rows flow straight into the cut arithmetic — the
    // old shape joined the ENCODE OUTPUT to the offsets, a corpus-
    // sized sort-merge shuffle at TOKEN granularity (~45 s of the
    // sf10 pack's 121 s; at 100 TB it would dominate outright). Same
    // rows, same values — only the join granularity moved.
    bpeEncodeIds(
      df.select(col(idCol), col(textCol)).join(offsets, Seq(idCol)),
      idCol, textCol, merges, vocab, carry = Seq("shard", "__off"))
      .select(col("shard"),
        // integer `div`, matching the oracle's `//`: a double quotient
        // would round across a cut once global offsets reach the 2^53
        // ulp boundary — exactly the scale this op exists for
        expr(s"(__off + pos) div ${budget}L").as("seq_no"),
        pmod(col("__off") + col("pos"), lit(budget)).as("seq_pos"),
        col(idCol), col("tid"))
  }

  /** Distributed EXCLUSIVE prefix sum of `__n` within each `shard` in
    * `__dpos` order — the scalable replacement for a
    * Window.partitionBy(shard) running sum, whose largest task holds a
    * whole shard (and the whole corpus when the layout is a global
    * rank with one shard). Same two-pass shape as [[rankLayout]]:
    * range-partition on (shard, __dpos) — __dpos is unique within a
    * shard, so ranges are disjoint and the order total — prefix-sum
    * WITHIN each (partition, shard) slice via a partitioned window,
    * then add the slice's global offset from one bounded collect of
    * per-(partition, shard) totals (≤ partitions·shards tiny rows,
    * broadcast back). Pinning, r15 form: the INPUT is persist()-pinned
    * before the range exchange — repartitionByRange runs a boundary
    * SAMPLING job over its child before the shuffle writes, so an
    * unpinned upstream (the per-doc BPE token count here) evaluates
    * TWICE; with the pin the sampling job materializes the cache and
    * the shuffle write replays it, then the input is unpersisted as
    * soon as the post-shuffle checkpoint holds the rows. The
    * post-shuffle localCheckpoint is LAZY: the totals collect is the
    * first action, so the SAME job that computes the totals
    * materializes it (r14's eager form paid one extra full pass just
    * to persist) — after it, the sampled partition assignment is
    * frozen for the window pass. `shard` is normalized to long
    * (callers may pass an IntegerType band) and a slice whose `__n`
    * is all-null sums to 0, not a driver NPE. Input (any id columns,
    * shard, __dpos, __n); output the same rows + `__off`. */
  private def shardPrefixSum(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val pinned = docs.withColumn("shard", col("shard").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranged = pinned
      .repartitionByRange(parts, col("shard"), col("__dpos"))
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint(false)
    val tots = ranged.groupBy("__pid", "shard")
      .agg(coalesce(sum("__n"), lit(0L)).as("__t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._2, t._1)) // shard, then partition order
    // the checkpoint now holds the ranged rows; the pre-shuffle pin has
    // served both its reads (boundary sampling + shuffle write)
    pinned.unpersist(false)
    val offs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var curShard = Long.MinValue
    var acc = 0L
    tots.foreach { case (pid, sh, t) =>
      if (sh != curShard || offs.isEmpty) { curShard = sh; acc = 0L }
      offs += ((pid, sh, acc))
      acc += t
    }
    val offDf = spark.createDataFrame(offs.toSeq)
      .toDF("__pid", "shard", "__poff")
    val w = Window.partitionBy("__pid", "shard").orderBy(col("__dpos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offDf), Seq("__pid", "shard"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(w), lit(0L)) + col("__poff"))
      .drop("__pid", "__poff")
  }

  /** Stopword removal: drop listed tokens from the text, preserving the
    * order and single-space joining of the survivors. Per-row lambda,
    * shuffle-free; the words array is projected before the filter
    * lambda (same recompute trap as shingling). */
  def removeStopwords(df: DataFrame, textCol: String, stops: Seq[String]): DataFrame = {
    val stopsArr = array(stops.map(lit): _*)
    df.withColumn("__ws", LlmOps.words(col(textCol)))
      .withColumn(textCol,
        concat_ws(" ", filter(col("__ws"), w => !array_contains(stopsArr, w))))
      .drop("__ws")
  }

  /** TF/DF components for TF-IDF scoring, integer-exact (the float
    * tf*ln(N/df) product is one multiply away for the caller; keeping
    * the engine output integral makes it verifiable bit-for-bit and
    * engine-portable — ln differs in final ulps across math libraries).
    * One explode + two keyed aggregations; shuffles on (doc, term) then
    * term. */
  def tfDf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = LlmOps.tokenHashes(df, idCol, textCol)
      .withColumnRenamed("h", "term")
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("term"))
      .select(col(idCol), col("term"), col("tf"), col("df"))
  }

  /** Sparse cosine-similarity pairs via an inverted-index join over
    * n-word shingle terms with integer-idf weights — the exact
    * similarity join that complements the MinHash/SimHash SKETCHES:
    * same candidate-generation shape (equi join on the term), but the
    * score is the true cosine over the pruned term space, not an
    * estimate.
    *
    * Weights are exact integers (`tf * (1000000 div df)` — rarer terms
    * weigh more, the idf spirit without a float log), so dots and norms
    * are BIGINT-exact and the only floats are one correctly-rounded
    * sqrt/divide at the end — bit-identical in any IEEE engine.
    *
    * Scale shape: the df band [minDf, maxDfFrac·N] is the scale lever —
    * dropping ubiquitous terms bounds every inverted-index bucket at
    * maxDfFrac·N docs (the classic frequency-pruned similarity join),
    * so the term self-join is never all-pairs and its cost is
    * Σ_t df(t)² over surviving terms only. Corpus size N stays in-plan
    * (1-row agg, broadcast) — no driver action.
    *
    * MEASURED (r8 sf10 probe, `bench_r8_tfidf_band_probe.json`): the cap is a
    * noise valve, not a speed dial. On decorrelated natural text no
    * term approaches any sane cap (max df 999 of 500k docs) and the
    * cap moves nothing; against injected boilerplate (terms whose df
    * grows WITH the corpus) it cuts 2.12× candidate volume at
    * identical output — corpus-frequent terms cannot push a pair over
    * a useful minSim. Size the cap from the probe's one-pass df
    * histogram (exact predicted volume Σ df·(df−1)/2), and treat
    * faster-than-corpus volume growth as the cue to strip boilerplate
    * (stripBoilerplate) before pairing.
    *
    * r20 (probe `bench_r20_tfidf_stages_sf10.json`, sf10 stage
    * attribution of the scoring join the r19 verdict flagged):
    *  - the prescribed term-salted two-level pre-aggregation of the
    *    (doc_a, doc_b) dots was MEASURED 2× SLOWER (19.9 s → 40.7 s):
    *    salting multiplies rows into a second shuffle without
    *    shrinking the pair-group space — rejected, one-level stays;
    *  - the tf frame now comes from the per-row kernel
    *    ([[LlmOps.shingleTf]]): the (doc, term) counts never needed a
    *    shuffle;
    *  - the two norm joins against the PAIR-sized dots frame (117.9M
    *    rows at sf10, planned SortMergeJoin — 14 SMJ / 0 BHJ in the
    *    sf10 plan) broadcast the DOC-sized norm table when the corpus
    *    is measurably small enough (one cheap metadata count; env
    *    `SPARK_GRAFT_TFIDF_BCAST_MAXDOCS` overrides, default 2M docs ≈
    *    tens of MB hashed): scoring tail 32.6 s → 18.4 s (1.77×).
    *    Past the threshold (the 100 TB shape) the joins stay
    *    sort-merge — a billion-row norm table must not broadcast.
    *
    * EAGERNESS: the branch decision runs one `df.count()` at
    * DataFrame-construction time (metadata-cheap on a parquet scan;
    * the lmStupidBackoff measured-size discipline — estimates were
    * exactly what mis-planned the sf10 joins). */
  def sparseCosinePairs(
      df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      minDf: Long = 2L, maxDfFrac: Double = 0.05,
      minSim: Double = 0.35): DataFrame = {
    val maxBcastDocs = sys.env.get("SPARK_GRAFT_TFIDF_BCAST_MAXDOCS")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(2000000L)
    val tf = LlmOps.shingleTf(df, idCol, textCol, n)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("n_docs"))
    val wt = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= minDf &&
        col("df") <= floor(lit(maxDfFrac) * col("n_docs")))
      .select(col(idCol), col("term"),
        expr("tf * (1000000 div df)").as("w"))
    val nrm0 = wt.groupBy(col(idCol)).agg(sum(col("w") * col("w")).as("n2"))
    val nrm = if (df.count() <= maxBcastDocs) broadcast(nrm0) else nrm0
    val dots = wt.select(col(idCol).as("doc_a"), col("term"), col("w").as("wa"))
      .join(wt.select(col(idCol).as("doc_b"), col("term"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
    val sim = col("dot").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    dots
      .join(nrm.select(col(idCol).as("doc_a"), col("n2").as("na")), Seq("doc_a"))
      .join(nrm.select(col(idCol).as("doc_b"), col("n2").as("nb")), Seq("doc_b"))
      .filter(sim >= minSim)
      .select(col("doc_a"), col("doc_b"), round(sim, 6).as("sim"))
  }

  /** BM25 relevance of every document against a fixed bag of query
    * terms (k1/b are the standard Okapi constants). Only float-exactness
    * caveat: `ln` in the idf — every other operation is IEEE-exact or
    * correctly rounded, token/length sums ride integers, and the
    * per-term partial scores add in the FIXED left-to-right order of
    * `queryTerms` (a conditional-aggregation pivot, not an
    * order-nondeterministic float sum).
    *
    * Scale shape: the df/dl/avgdl statistics are one agg each (avgdl is
    * a 1-row broadcast); scoring touches only rows whose term is in the
    * query (filter pushed to the tf grain), then one groupBy(doc). */
  def bm25(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms.distinct.size == queryTerms.size,
      "queryTerms must be non-empty and distinct")
    val tf = df
      .select(col(idCol), explode(LlmOps.words(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tok_total"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val adl = col("tok_total").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val termScore = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("adl")))
    val scored = tf.filter(col("w").isin(queryTerms: _*))
      .join(dl, Seq(idCol))
      .join(dfreq, Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("adl", adl)
      .withColumn("term_score", termScore)
    val perTerm = queryTerms.map(t =>
      max(when(col("w") === t, col("term_score"))).as(s"__s_$t"))
    val total = queryTerms
      .map(t => coalesce(col(s"__s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    scored.groupBy(col(idCol)).agg(perTerm.head, perTerm.tail: _*)
      .select(col(idCol), round(total, 6).as("bm25"))
  }

  /** Global top-k n-grams by frequency (hash-identified; deterministic
    * tie-break on the hash). Partial aggregation keeps the shuffle
    * narrow; the final top-k is a single ordered limit. */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame =
    LlmOps.shingleHashes(df, idCol, textCol, n, dedup = false)
      .groupBy("h").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("h"))
      .limit(k)

  /** Count-min sketch of the n-gram frequency stream (Cormode &
    * Muthukrishnan 2005) — the BOUNDED-MEMORY path to heavy hitters at
    * 100 TB, next to [[topNgrams]]' exact aggregation: `depth`
    * independent hash rows × `width` counters, counter (r, p) = the
    * number of gram occurrences with `(SeedA_r·h + SeedB_r) mod P31
    * mod width = p` (the LD2 permutation family — deterministic,
    * engine-portable). The sketch is d·w rows NO MATTER the corpus —
    * the aggregation output is constant-size where [[topNgrams]]'
    * shuffle grows with the distinct-gram space; estimates are
    * one-sided (est ≥ true count, off only by collision mass).
    * Output: (r, p, cnt). */
  def countMinSketch(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= LlmOps.SeedA.size,
      s"depth must be in [1, ${LlmOps.SeedA.size}]: $depth")
    require(width > 0, s"width must be positive: $width")
    val rows = (0 until depth).map { r =>
      struct(lit(r).as("r"),
        pmod((lit(LlmOps.SeedA(r)) * col("h") + lit(LlmOps.SeedB(r)))
          % LlmOps.P31, lit(width.toLong)).as("p"))
    }
    LlmOps.shingleHashes(df, idCol, textCol, n, dedup = false)
      .select(explode(array(rows: _*)).as("__c"))
      .groupBy(col("__c.r").as("r"), col("__c.p").as("p"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Heavy hitters from the sketch: every candidate gram's estimate =
    * min over the `depth` rows of its counter (the CM point query),
    * top-k by (estimate desc, gram hash). The scale contract: the
    * sketch is a tiny broadcast table, so estimation is ONE distinct
    * on the candidate grams plus a map-side lookup — the counting
    * shuffle is d·w-bounded and the candidate set can be sampled
    * without touching the sketch. Output: (h, est) — join back to a
    * gram dictionary for display. */
  /** `candidates` (any frame with an `h` column; extra columns are
    * carried through to the output) replaces the default
    * distinct-over-the-stream candidate set — pass a sampled frame at
    * production scale, or an existing per-gram aggregate to avoid a
    * second pass (the calibration query feeds its exact-count frame
    * here, which measured 44.6 → 36.2 s at the sf10 probe by deleting
    * one 75M-row distinct shuffle + scan). */
  def cmsHeavyHitters(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2, k: Int = 20, depth: Int = 4,
      width: Int = 1024, candidates: Option[DataFrame] = None): DataFrame = {
    val sketch = countMinSketch(df, idCol, textCol, n, depth, width)
    val cand = candidates.getOrElse(
      LlmOps.shingleHashes(df, idCol, textCol, n, dedup = false)
        .select(col("h")).distinct())
    val carried = cand.columns.filter(_ != "h").map(col).toSeq
    val withCells = (0 until depth).foldLeft(cand) { (acc, r) =>
      acc.withColumn(s"__p$r",
        pmod((lit(LlmOps.SeedA(r)) * col("h") + lit(LlmOps.SeedB(r)))
          % LlmOps.P31, lit(width.toLong)))
    }
    // LEFT joins: the sketch stores only OBSERVED cells, so a caller-
    // supplied candidate absent from the counted stream can hit an
    // empty cell — its correct CM point estimate is min(..., 0) = 0,
    // not a silent drop. Candidates drawn from the stream always hit
    // their own increments, so this is output-identical there.
    val est = (0 until depth).foldLeft(withCells) { (acc, r) =>
      acc.join(broadcast(sketch.filter(col("r") === r)
          .select(col("p").as(s"__p$r"), col("cnt").as(s"__c$r"))),
        Seq(s"__p$r"), "left")
    }.withColumn("est",
      (0 until depth).map(r => coalesce(col(s"__c$r"), lit(0L)))
        .reduce(least(_, _)))
    est.select(col("h") +: col("est") +: carried: _*)
      .orderBy(col("est").desc, col("h"))
      .limit(k)
  }

  /** HyperLogLog registers over the corpus's token hashes, keyed by
    * `keyCol` — the bounded-memory DISTINCT-count sibling of
    * [[countMinSketch]]'s bounded-memory frequency: per key the agg
    * output is AT MOST 2^p rows no matter the corpus, where exact
    * `count(distinct)` shuffles the full per-key token space. Flajolet
    * et al. 2007, with every step deterministic integer arithmetic so
    * both engines reproduce the registers bit-for-bit: the token hash
    * ([[LlmOps.strHash]]) passes the [[LlmOps.mix32]] full-avalanche
    * finalizer into k ∈ [0, 2^32) (leading-zero payloads need uniform
    * HIGH bits — the single multiplicative scramble measured a 0.53×
    * cardinality bias here), bucket j = k mod 2^p,
    * payload w = k div 2^p (a 32−p-bit word), and the register is
    * max over the bucket of rho(w) = leading zeros of w + 1
    * (= 32−p − bitlength(w) + 1; w = 0 → 32−p+1), bitlength as
    * `length(bin(w))` — the [[unigramLogFreq]] bit-length trick.
    *
    * Registers are MERGEABLE (max): shard registers union across
    * snapshots/sources with a 2^p-row max-agg — the property that
    * makes HLL the 100 TB cardinality report (per-source vocab size,
    * cross-snapshot distinct growth) without ever paying the exact
    * distinct shuffle. Output: (keyCol, j, mj). */
  def hllRegisters(df: DataFrame, textCol: String,
      keyCol: String, p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16]: $p")
    val m = 1L << p
    val toks = df
      .select(col(keyCol), explode(LlmOps.words(col(textCol))).as("__w"))
      .select(col(keyCol),
        LlmOps.mix32(LlmOps.strHash(col("__w"))).as("__k"))
    val w = expr(s"__k div ${m}L")
    toks
      .select(col(keyCol), pmod(col("__k"), lit(m)).as("j"),
        when(w === 0L, lit(32L - p + 1L))
          .otherwise(lit(32L - p + 1L) - length(bin(w)).cast("long"))
          .as("__rho"))
      .groupBy(col(keyCol), col("j")).agg(max(col("__rho")).as("mj"))
  }

  /** The HLL estimate from [[hllRegisters]], next to the exact
    * distinct count for calibration — with EVERY float deterministic:
    *
    *  - the harmonic-mean denominator Σ 2^−Mj is summed as exact
    *    dyadic integers (Σ 2^(Wmax−Mj) in BIGINT, Wmax = 32−p+1,
    *    absent buckets contributing 2^Wmax each) — order-free, so the
    *    raw estimate alpha·m²·2^Wmax / S is ONE division of identical
    *    doubles in both engines (alpha_m = 0.7213/(1+1.079/m), the
    *    published bias constant, rendered as the same literal);
    *  - the small-range linear-counting correction m·ln(m/V) (V =
    *    never-hit buckets) avoids libm entirely via [[log2Fixed]]:
    *    m·ln2·(p·2^20 − log2Fixed(V)) / 2^20, with m·ln2 a rendered
    *    literal — bit-equal across engines like every other fixed-
    *    point path;
    *  - the standard regime switch (zeros present AND raw < 2.5m)
    *    compares doubles both engines computed identically, so it
    *    cannot knife-edge.
    *
    * Per key the sketch side is ONE 2^p-bounded agg + one row; the
    * exact `n_exact` column beside it is the calibration cost a
    * production caller deletes. Output: (keyCol, n_exact, hll_est,
    * hll_raw, zeros). */
  def hllDistinct(df: DataFrame, textCol: String,
      keyCol: String, p: Int = 10): DataFrame = {
    val m = 1L << p
    val wmax = 32 - p + 1
    val F = 1L << 20
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val rawNum = alpha * m.toDouble * m.toDouble * (1L << wmax).toDouble
    val lcc = m.toDouble * math.log(2.0)
    val regs = hllRegisters(df, textCol, keyCol, p)
    val est = regs.groupBy(col(keyCol)).agg(
      count(lit(1)).as("__present"),
      sum(pow(lit(2.0), lit(wmax.toLong) - col("mj")).cast("long"))
        .as("__s1"))
      .select(col(keyCol),
        (lit(m) - col("__present")).as("zeros"),
        (col("__s1") + (lit(m) - col("__present")) * lit(1L << wmax))
          .as("__s"))
      .select(col(keyCol), col("zeros"),
        (lit(rawNum) / col("__s").cast("double")).as("__raw"))
      .select(col(keyCol), col("zeros"), round(col("__raw"), 6).as("hll_raw"),
        round(
          when(col("zeros") > 0L && col("__raw") < lit(2.5 * m.toDouble),
            lit(lcc) * (lit(p.toLong * F) - log2Fixed(col("zeros")))
              / lit(F.toDouble))
            .otherwise(col("__raw")), 6).as("hll_est"))
    val exact = df
      .select(col(keyCol), explode(LlmOps.words(col(textCol))).as("__w"))
      .select(col(keyCol), LlmOps.strHash(col("__w")).as("h"))
      .groupBy(col(keyCol))
      .agg(countDistinct(col("h")).as("n_exact"))
    est.join(exact, Seq(keyCol))
      .select(col(keyCol), col("n_exact"), col("hll_est"), col("hll_raw"),
        col("zeros"))
  }

  /** PII regexes shared by the engine and the DuckDB oracle rendering:
    * plain ERE features only (classes, +, bounded reps, \b, \d) so the
    * same pattern string is valid for Java's regex and RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** PII scrubbing: redact emails then phone numbers with typed
    * placeholders. Pure regexp_replace chain — per-row, shuffle-free,
    * fused with the scan at any scale (the standard pre-training
    * curation pass; extend the chain per PII class). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Gopher-style repetition signals per document: the fraction of
    * duplicate word n-grams (1 - distinct/total) and the highest single
    * token's share of all tokens. High values flag boilerplate/spam for
    * a curation filter. Two keyed aggregations over the exploded
    * token/shingle streams — shuffles on (doc) and (doc, token); the
    * mixed count/count-distinct agg plans a 2-group Expand (doubled
    * agg input, no sort fallback — cheap, unlike the sketch mix that
    * broke ext_approx_agg's round-2 plan). Empty docs keep an explicit
    * all-zero row. */
  def repetitionSignals(
      df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val sh = LlmOps.shingleHashes(df, idCol, textCol, n, dedup = false)
    val ng = sh.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_ngrams"),
      countDistinct(col("h")).as("d_ngrams"))
    val tf = LlmOps.tokenHashes(df, idCol, textCol)
      .groupBy(col(idCol), col("h")).agg(count(lit(1)).as("c"))
    val tw = tf.groupBy(col(idCol))
      .agg(sum("c").as("n_words"), max("c").as("max_wc"))
    df.select(col(idCol))
      .join(ng, Seq(idCol), "left")
      .join(tw, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        round(when(col("n_ngrams").isNull || col("n_ngrams") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("d_ngrams").cast("double") / col("n_ngrams")), 6)
          .as("dup_ngram_ratio"),
        round(when(col("n_words").isNull || col("n_words") === 0, lit(0.0))
          .otherwise(col("max_wc").cast("double") / col("n_words")), 6)
          .as("top_word_ratio"))
  }

  /** The Gopher rule-set stopwords (Rae et al. 2021 §A1.1): a document
    * must contain at least `minStopwords` DISTINCT members to pass the
    * stopword rule. */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1):
    * per-document signals and one boolean flag per rule, plus `keep` =
    * the conjunction. Rules: word count in [minWords, maxWords]; mean
    * word length in [minMeanWordLen, maxMeanWordLen]; symbol-to-word
    * ratio ('#' chars + '...' runs, over words) ≤ maxSymbolRatio;
    * fraction of lines starting with a bullet ("- ", "* ", "• ")
    * ≤ maxBulletFrac; fraction of lines ending in "..." ≤
    * maxEllipsisFrac; fraction of words containing an alphabetic char
    * ≥ minAlphaFrac; ≥ minStopwords distinct [[GopherStops]] present.
    * Unlike [[qualityScore]]'s soft composite this is the hard
    * rule-by-rule gate, and the per-rule flags say WHICH rule fired —
    * the report a curation run audits before committing to a drop set.
    *
    * Entirely per-row column arithmetic (the word-length fold is an
    * integer `aggregate`, so every signal is order-exact and
    * engine-portable; the only floats are final ratios) — no shuffle,
    * fuses with the scan at any scale. NULL text yields NULL signals
    * and keep = false. */
  def gopherRules(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopwords: Int = 2): DataFrame = {
    val text = col(textCol)
    val ws = split(text, " ")
    val wsl = split(lower(text), " ")
    val lines = split(text, "\n")
    val nWords = size(ws).cast("long")
    val nLines = size(lines).cast("long")
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w))
    val meanLen = sumLen.cast("double") / nWords
    val nHash = length(text) - length(replace(text, lit("#"), lit("")))
    val nEll = (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    val symbolRatio = (nHash + nEll).cast("double") / nWords
    val bulletFrac = size(filter(lines, l =>
      startswith(l, lit("- ")) || startswith(l, lit("* ")) ||
        startswith(l, lit("• ")))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => endswith(l, lit("..."))))
      .cast("double") / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    val nStop = size(filter(
      array(GopherStops.map(lit): _*), s => array_contains(wsl, s)))
      .cast("long")
    val rWords = nWords >= minWords && nWords <= maxWords
    val rMeanLen = meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen
    val rSymbol = symbolRatio <= maxSymbolRatio
    val rBullet = bulletFrac <= maxBulletFrac
    val rEllipsis = ellipsisFrac <= maxEllipsisFrac
    val rAlpha = alphaFrac >= minAlphaFrac
    val rStop = nStop >= minStopwords
    df.select(col(idCol),
      nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisFrac, 6).as("ellipsis_frac"),
      round(alphaFrac, 6).as("alpha_frac"),
      nStop.as("n_stop"),
      rWords.as("r_words"), rMeanLen.as("r_mean_len"),
      rSymbol.as("r_symbol"), rBullet.as("r_bullet"),
      rEllipsis.as("r_ellipsis"), rAlpha.as("r_alpha"),
      rStop.as("r_stop"),
      // r19: keep is the conjunction of the flags ALREADY computed in
      // this projection — the previous gopherKeep(text, ...) call
      // duplicated the whole signal tree (splits + four interpreted
      // filter/aggregate lambdas) inside the same project, and
      // codegen subexpression elimination does not cover the
      // interpreted HOF fallbacks. coalesce(..., false) reproduces
      // gopherKeep's NULL-text → false contract bit for bit.
      coalesce(rWords && rMeanLen && rSymbol && rBullet &&
        rEllipsis && rAlpha && rStop, lit(false)).as("keep"))
  }

  /** The [[gopherRules]] `keep` conjunction as a standalone per-row
    * predicate Column — for callers that only gate (a plain `filter`,
    * ONE evaluation of the input) and don't need the report frame: a
    * `join(gopherRules(df).filter(keep))` evaluates the upstream plan
    * twice, a `df.filter(gopherKeep(col))` once. NULL text → false. */
  def gopherKeep(
      text: Column,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
      minAlphaFrac: Double = 0.8, minStopwords: Int = 2): Column = {
    val ws = split(text, " ")
    val wsl = split(lower(text), " ")
    val lines = split(text, "\n")
    val nWords = size(ws).cast("long")
    val nLines = size(lines).cast("long")
    val sumLen = aggregate(ws, lit(0L), (a, w) => a + length(w))
    val meanLen = sumLen.cast("double") / nWords
    val nHash = length(text) - length(replace(text, lit("#"), lit("")))
    val nEll = (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    val symbolRatio = (nHash + nEll).cast("double") / nWords
    val bulletFrac = size(filter(lines, l =>
      startswith(l, lit("- ")) || startswith(l, lit("* ")) ||
        startswith(l, lit("• ")))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => endswith(l, lit("..."))))
      .cast("double") / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nWords
    val nStop = size(filter(
      array(GopherStops.map(lit): _*), s => array_contains(wsl, s)))
      .cast("long")
    coalesce(
      nWords >= minWords && nWords <= maxWords &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        symbolRatio <= maxSymbolRatio &&
        bulletFrac <= maxBulletFrac &&
        ellipsisFrac <= maxEllipsisFrac &&
        alphaFrac >= minAlphaFrac &&
        nStop >= minStopwords,
      lit(false))
  }

  /** Deterministic stratified sampling with per-stratum rates — the
    * data-mixing primitive of a pretraining corpus ("keep 50% of en,
    * 25% of de, 10% of the rest"). A document is kept iff
    * its [[mixBucket]] lands below its stratum's cut of a
    * 10000-bucket space: per-row, shuffle-free, reproducible across
    * runs AND engines (no RNG), and stable under corpus growth — a
    * document's keep/drop never changes because other rows appeared.
    * Rates are rounded to 1/10000 granularity. A NULL stratum falls
    * under `defaultRate` (hashed under a sentinel — without it the null
    * would poison the hash and silently drop the row regardless of
    * rate). */
  def stratifiedSample(
      df: DataFrame, idCol: String, strataCol: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    val bucket = mixBucket(strataCol, col(idCol))
    val cut = rates.foldLeft(round(lit(defaultRate) * 10000).cast("long")) {
      case (acc, (k, v)) =>
        when(strataCol === k, round(lit(v) * 10000).cast("long")).otherwise(acc)
    }
    df.filter(bucket < cut)
  }

  /** Sampling bucket in [0, 10000): polyhash of (stratum ":" id),
    * Fibonacci-scrambled. The raw polynomial hash mod 1e9+7 is NOT
    * uniform in its low decimal digits for short structured strings
    * (measured per-stratum bucket means of 2900-7200 on the test corpus
    * — sampled token shares missed budget targets by up to 2×); one
    * multiplicative scramble (Knuth's 2654435761, mod 2^32) restores
    * per-stratum means within ~5% of uniform. Exact BIGINT arithmetic —
    * hash < 1e9+7, so the product stays under 2^62 — reproducible in
    * any engine (rendered for DuckDB by TextQueries.duckMixBucket).
    * NULL strata hash under a NUL sentinel (a null would poison the
    * hash and silently drop the row). */
  private[graft] def mixBucket(stratum: Column, id: Column): Column =
    LlmOps.strHash(
      concat(coalesce(stratum.cast("string"), lit("\u0000")),
        lit(":"), id.cast("string"))) * 2654435761L % 4294967296L % 10000L

  /** Probabilistic score-proportional sampling — the CCNet-style soft
    * gate between "keep everything above a threshold" and "drop
    * everything below": each document is kept with probability equal
    * to its score (clamped to [0,1], at 1/10000 granularity), decided
    * by the deterministic [[mixBucket]] hash rather than an RNG — so
    * reruns, repartitionings and engines agree on every document's
    * fate, and distinct salts give independent draws. A borderline
    * corpus keeps a calibrated fraction instead of a cliff at the
    * threshold. Per-row, shuffle-free.
    *
    * Output: the kept rows with the effective `keep_prob` attached. */
  def scoreSample(
      df: DataFrame, idCol: String, scoreCol: Column,
      salt: String): DataFrame = {
    val cut = round(greatest(lit(0.0), least(lit(1.0), scoreCol))
      * 10000, 0).cast("long")
    df.withColumn("keep_prob", round(cut / lit(10000.0), 4))
      .filter(mixBucket(lit(salt), col(idCol)) < cut)
  }

  /** Data mixing to a TOKEN budget: sample each stratum down to
    * ~`budgetTokens` whitespace tokens (strata already under budget
    * keep everything). The keep rate per stratum is
    * min(1, budget / stratum_total) at 1/10000 granularity, applied via
    * the deterministic [[mixBucket]] — the realized token share tracks
    * the recipe without an RNG, and a document's fate is stable under
    * reruns of the same corpus.
    *
    * Scale shape: one agg for the per-stratum totals (tiny frame,
    * joined back — broadcast under AQE), then a per-row hash filter:
    * the corpus-sized side never shuffles. */
  def sampleToBudget(
      df: DataFrame, idCol: String, textCol: String,
      stratumCol: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, s"token budget must be >= 1: $budgetTokens")
    val tok = df.select(col(idCol), stratumCol.as("stratum"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val rates = tok.groupBy("stratum")
      .agg(sum("n_tokens").as("total_tokens"))
      .select(col("stratum"),
        floor(least(lit(1.0),
          lit(budgetTokens.toDouble) / col("total_tokens").cast("double"))
          * 10000).as("rate_e4"))
    tok.join(rates, Seq("stratum"))
      .filter(mixBucket(col("stratum"), col(idCol)) < col("rate_e4"))
      .select(col(idCol), col("stratum"), col("n_tokens"), col("rate_e4"))
  }

  /** Temperature-based mixture sampling (the mT5/XLM-R recipe): sample
    * stratum i so the RESULT's token distribution follows
    * p_i ∝ (tokens_i)^(1/τ) — τ=1 keeps natural proportions, τ→∞
    * approaches uniform across strata (upweights low-resource strata),
    * and the keep rate is min(1, B·p_i / tokens_i) against a total
    * token budget B. No RNG: membership is the same deterministic
    * [[mixBucket]] hash as every sampler here, so a doc's fate is
    * stable under reruns.
    *
    * Scale shape identical to [[sampleToBudget]]: one tiny per-stratum
    * agg joined back (broadcast under AQE); the corpus side never
    * shuffles. Engine-portability of the math is deliberate:
    * α = 0.5 (τ = 2, the common choice) routes through `sqrt` — which
    * IEEE 754 requires correctly rounded, so any engine reproduces the
    * rates bit-exactly — and the cross-stratum weight sum is a sorted
    * left fold (not a SUM aggregate, whose accumulation order — and
    * thus last-ulp result — is engine- and partition-dependent).
    * Other α go through `pow`, which libm does NOT guarantee
    * correctly rounded: fine operationally, excluded from the
    * hash-compared oracle. */
  def temperatureMix(
      df: DataFrame, idCol: String, textCol: String,
      stratumCol: Column, budgetTokens: Long, temperature: Double): DataFrame = {
    require(budgetTokens >= 1, s"token budget must be >= 1: $budgetTokens")
    require(temperature > 0, s"temperature must be > 0: $temperature")
    val alpha = 1.0 / temperature
    val tok = df.select(col(idCol), stratumCol.as("stratum"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val totals = tok.groupBy("stratum")
      .agg(sum("n_tokens").as("total_tokens"))
    val weight =
      if (alpha == 0.5) sqrt(col("total_tokens").cast("double"))
      else pow(col("total_tokens").cast("double"), alpha)
    val weighted = totals.withColumn("__w", weight)
    // deterministic cross-stratum sum: sorted left fold over the (tiny)
    // strata list — bit-reproducible in any engine, unlike sum(double)
    val sumW = weighted
      .agg(aggregate(
        array_sort(collect_list(struct(col("stratum"), col("__w")))),
        lit(0.0), (acc, x) => acc + x("__w")).as("__sum_w"))
    val rates = weighted.crossJoin(broadcast(sumW))
      .select(col("stratum"), col("total_tokens"),
        floor(least(lit(1.0),
          lit(budgetTokens.toDouble) * col("__w") / col("__sum_w")
            / col("total_tokens").cast("double")) * 10000)
          .cast("long").as("rate_e4"))
    tok.join(rates.select("stratum", "rate_e4"), Seq("stratum"))
      .filter(mixBucket(col("stratum"), col(idCol)) < col("rate_e4"))
      .select(col(idCol), col("stratum"), col("n_tokens"), col("rate_e4"))
  }

  /** Adaptive per-stratum filter: keep rows whose `scoreCol` is at or
    * above their OWN stratum's interpolated `q`-quantile — "drop the
    * shortest quartile per language" instead of one global constant,
    * which over-prunes strata whose score distribution runs low and
    * under-prunes the rest. Exact percentile (sort-based partial agg,
    * Spark `percentile` ≡ DuckDB `quantile_cont`), not a sketch: the
    * threshold frame is one row per stratum.
    *
    * Scale shape: one agg to the tiny per-stratum threshold frame
    * (broadcast back under AQE) — the corpus side never shuffles, the
    * filter fuses with its scan. The join-back is null-safe (`<=>`):
    * a null stratum is its own group with its own threshold, consistent
    * with [[mixBucket]]'s null-stratum handling, instead of being
    * silently dropped by a null-rejecting equi join. */
  def adaptiveFilter(
      df: DataFrame,
      scoreCol: String,
      stratumCol: Column,
      q: Double): DataFrame = {
    require(q > 0 && q < 1, s"quantile must be in (0,1): $q")
    val thr = df.groupBy(stratumCol.as("__stratum"))
      .agg(percentile(col(scoreCol), lit(q)).as("__thr"))
    df.join(thr, stratumCol <=> col("__stratum"))
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__stratum", "__thr")
  }

  /** Deterministic holdout split (train/val/test): each row's
    * destination is a pure function of (salt, id) — the scrambled
    * [[mixBucket]] against cumulative integer cutoffs at 1/10000
    * granularity. No RNG, no seed plumbing: reruns assign identically,
    * and because the bucket ignores everything but the id, GROWING the
    * corpus never moves an existing document across splits — the
    * property that keeps eval sets eval sets as the crawl refreshes
    * (rand()-based splits silently leak train into test on every
    * re-partition). Distinct `salt` values give independent splits for
    * independent experiments. Per-row, shuffle-free, fused with the
    * scan. */
  def holdoutSplit(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "split"): DataFrame = {
    val cuts = fractions.map { case (n, f) => (n, Math.round(f * 10000).toInt) }
    require(cuts.nonEmpty && cuts.forall(_._2 > 0),
      s"every split needs a positive share at 1e-4 granularity: $fractions")
    require(cuts.map(_._2).sum == 10000,
      s"split fractions must sum to 1: $fractions")
    val bucket = mixBucket(lit(salt), col(idCol))
    val bounds = cuts.scanLeft(0)(_ + _._2).tail
    val assigned = cuts.zip(bounds).dropRight(1)
      .foldLeft(Option.empty[Column]) { case (acc, ((name, _), bound)) =>
        Some(acc.fold(when(bucket < bound, name))(_.when(bucket < bound, name)))
      }
      .fold(lit(cuts.head._1))(_.otherwise(cuts.last._1))
    df.withColumn("split", assigned)
  }

  /** Sequence packing for pretraining: assign documents to fixed
    * token-budget training sequences. Documents pack in deterministic
    * (shard, id) order; a document joins the sequence its cumulative
    * token OFFSET falls into — "offset packing", a pure two-window plan
    * (running sum + integer divide, no sequential driver loop) whose
    * sequences may overflow the budget by at most one document's
    * tokens. The shard column partitions the sort, so at 100 TB the
    * window runs per-shard in parallel instead of as a global sort. */
  def packSequences(
      df: DataFrame, idCol: String, textCol: String,
      budget: Long, shardCol: Column,
      tokenCount: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget >= 1, s"token budget must be >= 1: $budget")
    // default: whitespace tokens; pass e.g. [[bpeTokenCountCol]] to
    // pack by REAL tokenizer counts (what a training job budgets on)
    val toks = tokenCount.getOrElse(size(split(col(textCol), " ")).cast("long"))
    val w = Window.partitionBy("shard").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(idCol), shardCol.as("shard"), toks.as("n_tokens"))
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col("shard"), col("n_tokens"),
        floor(col("offset") / lit(budget.toDouble)).cast("long").as("seq_no"))
  }

  /** Deterministic epoch shuffle — the training-data ordering step:
    * give every document a pseudo-random but exactly reproducible
    * global position for one training epoch. The shuffle key is the
    * engine's polynomial hash of `salt ":" id` passed through the
    * mixBucket multiplicative scramble (`h * 2654435761 mod 2^32`) —
    * the raw polynomial hash is nearly ORDER-PRESERVING for
    * same-length numeric suffixes (consecutive ids differ only in the
    * last digits' small contribution), so without the avalanche step
    * the "shuffle" would largely reproduce id order. No RNG, no seed
    * plumbing. Documents order globally by (key, id) and the key
    * space [0, 2^32) is cut into `nShards` contiguous ranges
    * (`shard = key * nShards div 2^32` — exact integer arithmetic,
    * replayable anywhere), so the global order IS (shard asc, pos asc)
    * and each shard is an independent unit of work. `pos` is the
    * 1-based rank within the shard.
    *
    * Distinct salts give independent permutations (epoch 1, 2, …);
    * reruns — and engine/partitioning changes — reproduce the epoch
    * bit-identically, the property a resumable training job needs to
    * skip to mid-epoch without storing the order.
    *
    * Scale shape: per-row key hashing fused with the scan, ONE keyed
    * shuffle on the shard id, per-shard sort of ~N/nShards rows (grow
    * nShards with the corpus; shards are the physical shard files).
    * Composes with [[packSequences]]: pass `shard` as the shard column
    * and `pos` as the order column and sequences land in shuffled,
    * reproducible order. */
  def epochShuffle(
      df: DataFrame, idCol: String, salt: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nShards * key must stay in long range: key < 2^32, so cap shards
    require(nShards > 0 && nShards < (1 << 30),
      s"nShards out of range: $nShards")
    val key = LlmOps.strHash(
      concat_ws(":", lit(salt), col(idCol).cast("string"))) *
      lit(2654435761L) % lit(4294967296L)
    val w = Window.partitionBy("shard")
      .orderBy(col("shuffle_key"), col(idCol))
    df.withColumn("shuffle_key", key)
      .withColumn("shard",
        expr(s"shuffle_key * ${nShards}L div 4294967296L"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** PRODUCTION curriculum layout — the banded twin of the
    * llm_curriculum_pack oracle's single global rank window: shard =
    * difficulty band, pos = rank within the band. Band boundaries come
    * from ONE mergeable aggregate (approx_percentile at the `accuracy`
    * knob) and a bounded (nBands−1)-value collect; band assignment is
    * a literal comparison chain fused with the scan; the rank window
    * partitions BY BAND, so the largest sort any task pays is one
    * band (~N/nBands rows) instead of the whole corpus through one
    * task — grow nBands with the corpus like pack shards. Ordering
    * contract (what curriculum training needs, and what the spec
    * pins): within a band pos ascends by (diffCol, idCol), and bands
    * are monotone — every doc in band b has diffCol ≤ every doc in
    * band b+1 (docs equal to a boundary land in the lower band).
    * Exact boundary PLACEMENT is approximate (band sizes wobble with
    * the sketch; the oracle query keeps the exact global rank for
    * that reason) — monotonicity never depends on it. Output
    * (idCol, shard, pos) feeds [[packTokenIdsBy]] directly.
    *
    * The narrow (idCol, diffCol) projection is localCheckpoint-PINNED
    * inside the helper: the boundary agg, the band assignment, AND
    * every downstream reuse of the layout (packTokenIdsBy reads the
    * order twice — offsets + doc selection) replay the checkpoint
    * instead of recomputing the upstream difficulty scorer — the
    * first sf10 probe measured the unpinned form paying one EXTRA
    * full LM-scoring pass, which cost more than the funnel it
    * removed. The checkpoint is two columns per doc — the same
    * doc-sized pin every CC/packing path in this repo carries. */
  /** EXACT global curriculum rank with NO single-task sort — the
    * distributed two-pass rank (the classic zipWithIndex shape,
    * Spark-first): range-partition the localCheckpoint-pinned narrow
    * (idCol, diffCol) frame on (diffCol, idCol) — idCol unique makes
    * the order total, so ranges are disjoint and rank is exact
    * wherever the sampled boundaries land — then rank WITHIN each
    * range partition (a partitionBy window, never one task) and add
    * the partition's global offset from one bounded collect of
    * per-partition counts (≤ `partitions` rows, broadcast back).
    * Pinning, r15 form: the narrow (idCol, diffCol) INPUT is
    * persist()-pinned before the range exchange (repartitionByRange's
    * boundary sampling job would otherwise evaluate the upstream
    * scorer a second time before the shuffle write does) and released
    * once the post-shuffle checkpoint holds the rows; the LAZY
    * post-shuffle checkpoint is materialized by the counts action
    * itself (one pass, not eager-persist + collect as in r14) and
    * then pins BOTH the partition assignment for the rank pass (range
    * boundaries are sampled — unpinned they could move between
    * actions and mis-rank) AND the upstream scorer against
    * packTokenIdsBy's double read. Output
    * (idCol, shard = 0, pos = 1-based global rank by (diffCol,
    * idCol)) — exactly [[curriculumLayout]](nBands = 1), which
    * delegates here; the largest per-task sort is one range partition
    * (~N/partitions rows), so the layout survives a corpus that no
    * longer fits one task. */
  def rankLayout(
      scored: DataFrame, idCol: String, diffCol: String,
      partitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    val parts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val pinned = scored.select(col(idCol), col(diffCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranged = pinned
      .repartitionByRange(parts, col(diffCol), col(idCol))
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint(false)
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // the checkpoint now holds the ranged rows; the pre-shuffle pin has
    // served both its reads (boundary sampling + shuffle write)
    pinned.unpersist(false)
    var acc = 0L
    val offs = counts.map { case (pid, c) =>
      val o = (pid, acc); acc += c; o
    }.toSeq
    val offDf = spark.createDataFrame(offs).toDF("__pid", "__off")
    val within = Window.partitionBy("__pid")
      .orderBy(col(diffCol), col(idCol))
    ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn("pos",
        (col("__off") + row_number().over(within)).cast("long"))
      .select(col(idCol), lit(0L).as("shard"), col("pos"))
  }

  def curriculumLayout(
      scored: DataFrame, idCol: String, diffCol: String,
      nBands: Int, accuracy: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBands >= 1, s"nBands must be >= 1: $nBands")
    val byBand = Window.partitionBy("shard")
      .orderBy(col(diffCol), col(idCol))
    if (nBands == 1) return rankLayout(scored, idCol, diffCol)
    // lazy: the boundary agg below is the first action and
    // materializes the pin in the same pass (see rankLayout)
    val narrow = scored.select(col(idCol), col(diffCol))
      .localCheckpoint(false)
    val qs = (1 until nBands).map(_.toDouble / nBands)
    val bounds = narrow
      .agg(percentile_approx(col(diffCol).cast("double"),
        array(qs.map(lit): _*), lit(accuracy)).as("b"))
      .head().getSeq[Double](0)
    val band = bounds.foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(diffCol) > lit(b), 1L).otherwise(0L)
    }
    narrow.withColumn("shard", band)
      .withColumn("pos", row_number().over(byBand).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** [[curriculumLayout]] with ENGINE-EXACT range boundaries — the
    * oracle-able banded variant: boundaries split [min, max] of
    * diffCol evenly (min/max are order-free aggregates; the boundary
    * arithmetic mn + (mx − mn) · k/nBands is the same IEEE expression
    * in any engine), so unlike the approx-percentile form this layout
    * is bit-reproducible and hash-comparable — the
    * llm_curriculum_pack_banded oracle replays it end-to-end. Bands
    * are equal-WIDTH, not equal-COUNT: a skewed difficulty
    * distribution gives uneven band sizes, so the quantile form stays
    * the balanced-band production default and this is its
    * verification twin (same pin, same output shape, same no-global-
    * sort plan). */
  def curriculumLayoutRange(
      scored: DataFrame, idCol: String, diffCol: String,
      nBands: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBands >= 1, s"nBands must be >= 1: $nBands")
    if (nBands == 1) return rankLayout(scored, idCol, diffCol)
    val byBand = Window.partitionBy("shard")
      .orderBy(col(diffCol), col(idCol))
    // lazy: the min/max agg is the first action and materializes the
    // pin in the same pass (see rankLayout)
    val narrow = scored.select(col(idCol), col(diffCol))
      .localCheckpoint(false)
    val mm = narrow.agg(
      min(col(diffCol).cast("double")).as("mn"),
      max(col(diffCol).cast("double")).as("mx")).head()
    val (mn, mx) =
      if (mm.isNullAt(0)) (0.0, 0.0)
      else (mm.getDouble(0), mm.getDouble(1))
    val band = (1 until nBands).foldLeft(lit(0L)) { (acc, k) =>
      val bound = mn + (mx - mn) * (k.toDouble / nBands)
      acc + when(col(diffCol).cast("double") > lit(bound), 1L).otherwise(0L)
    }
    narrow.withColumn("shard", band)
      .withColumn("pos", row_number().over(byBand).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Overlapping word-window chunking — the RAG/indexing prep step:
    * split each document into `window`-word chunks advancing by
    * `stride` words (overlap = window - stride keeps context at chunk
    * boundaries). Chunk count is max(1, ceil((n - window) / stride) + 1)
    * in exact integer arithmetic, so every non-empty document emits at
    * least one chunk and the last chunk is the only short one. The plan
    * is scan → sequence/explode → slice/array_join: per-row generators
    * and codegen'd array ops, NO shuffle — at 100 TB it fuses with the
    * scan and parallelism is the input partitioning. */
  def chunkDocs(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window > 0, s"chunk window must be positive: $window")
    require(stride > 0 && stride <= window,
      s"stride must be in [1, window]: $stride")
    val ws = split(col(textCol), " ")
    df.select(col(idCol), ws.as("__ws"), size(ws).cast("long").as("__n"))
      .withColumn("__nc",
        when(col("__n") <= window, lit(1L))
          .otherwise(floor((col("__n") - window + stride - 1)
            / lit(stride.toDouble)).cast("long") + 1L))
      .select(col(idCol), col("__ws"), col("__n"),
        explode(sequence(lit(0L), col("__nc") - 1L)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        least(lit(window.toLong), col("__n") - col("chunk_idx") * stride)
          .as("chunk_words"),
        array_join(
          slice(col("__ws"),
            (col("chunk_idx") * stride + 1L).cast("int"), lit(window)),
          " ").as("chunk_text"))
  }

  /** In-document segment dedup — the C4 "remove repeated lines within a
    * document" rule for corpora whose unit is the word window rather
    * than the line: split the doc into consecutive NON-overlapping
    * `window`-word segments, drop every segment whose exact content
    * already appeared earlier in the SAME doc, and reassemble the
    * survivors in order. (Cross-doc repetition is [[stripBoilerplate]]'s
    * job; this catches the crawler artifact of a page repeating its own
    * content.) Output adds `n_dropped` = segments removed.
    *
    * Entirely per-row: higher-order array functions (sequence /
    * transform / filter-with-index / array_contains on a prior slice) —
    * NO shuffle, fuses with the scan like [[chunkDocs]]; the per-doc
    * cost is O(segments²) string compares, bounded by the doc itself. */
  def dedupDocSegments(
      df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    require(window > 0, s"segment window must be positive: $window")
    val ws = split(col(textCol), " ")
    val nseg = ceil(size(ws) / lit(window.toDouble)).cast("long")
    val segs = transform(
      sequence(lit(0L), nseg - 1L),
      i => array_join(
        slice(ws, (i * window + 1L).cast("int"), lit(window)), " "))
    // NULL text propagates as NULL (matching SQL semantics): Spark's
    // size(split(null)) = -1 path would otherwise fabricate text="" with
    // a nonsense n_dropped where the oracle returns NULL.
    df
      .withColumn("__segs", segs)
      .withColumn("__kept", filter(col("__segs"),
        (s, i) => !array_contains(slice(col("__segs"), lit(1), i), s)))
      .withColumn("n_dropped",
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise((size(col("__segs")) - size(col("__kept"))).cast("long")))
      .withColumn(textCol,
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(array_join(col("__kept"), " ")))
      .drop("__segs", "__kept")
  }

  /** Per-domain document cap — the web-corpus balance step: keep at
    * most `n` documents per domain, best-first by `scoreCol`
    * (deterministic id tiebreak). One keyed window = one shuffle on the
    * domain; at 100 TB that is the intended partitioning (domains are
    * many and the per-domain top-n state is bounded by n). Callers with
    * a skewed mega-domain should pre-filter it or raise spark AQE skew
    * handling — the cap itself never builds per-domain lists. */
  def domainCap(
      df: DataFrame, idCol: String, domainCol: String,
      scoreCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"per-domain cap must be >= 1: $n")
    val w = Window.partitionBy(domainCol)
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
  }

  /** Boilerplate-segment removal (CCNet-style line dedup, re-expressed
    * for newline-free corpora): segment each document into
    * non-overlapping `window`-word pieces ([[chunkDocs]] with
    * stride = window), count each segment's document frequency across
    * the corpus, drop segments appearing in >= `minDf` distinct
    * documents (nav bars, license headers, share buttons at web scale),
    * and reassemble the survivors in document order. Output per doc:
    * `text_clean`, `n_kept`, `n_total` — a doc whose every segment is
    * boilerplate still emits a row with an empty `text_clean`.
    *
    * Scale shape: ONE corpus scan. The df count rides two windows over
    * the segment stream instead of a groupBy + self-join — the join
    * form scans the corpus (and computes every segment hash) twice,
    * once per join side; the window form shuffles the 8-byte-keyed
    * stream on (hash, doc) then (hash) and tags each occurrence with
    * its segment's distinct-doc count in place. One final groupBy on
    * the doc id rebuilds the text with a bounded per-doc state (the
    * doc's own segment list) — never a corpus-wide window. */
  def stripBoilerplate(
      df: DataFrame, idCol: String, textCol: String,
      window: Int, minDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minDf >= 2, s"minDf < 2 would drop every segment: $minDf")
    val segs = chunkDocs(df, idCol, textCol, window, stride = window)
      .withColumn("__h", LlmOps.strHash(col("chunk_text")))
    // distinct-doc count per segment hash, windowed: flag one occurrence
    // per (segment, doc), then sum the flags across the segment
    val wDoc = Window.partitionBy(col("__h"), col(idCol))
      .orderBy(col("chunk_idx"))
    val wSeg = Window.partitionBy(col("__h"))
    val withDf = segs
      .withColumn("__first",
        when(row_number().over(wDoc) === 1, 1L).otherwise(0L))
      .withColumn("__df", sum(col("__first")).over(wSeg))
    val keep = col("__df") < minDf
    withDf
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(keep, struct(col("chunk_idx"), col("chunk_text"))))),
            x => x.getField("chunk_text")),
          " ").as("text_clean"))
  }

  /** Unigram log-frequency quality proxy — the LM-filter slot of a
    * CCNet-style curation pipeline: score = mean bit-length of each
    * token's corpus frequency (`length(bin(count))` = ⌊log2 count⌋+1).
    * Documents made of common, well-formed words score high;
    * gibberish, OCR noise and rare-token spam score low — the same
    * signal a KenLM perplexity filter thresholds on, as a pure
    * integer-exact column computation both engines reproduce bit-for-
    * bit (a float `ln` would be sum-order-sensitive; bit-length is
    * not). A real n-gram LM slots in at exactly this shape: replace
    * the count frame with (ngram, logprob) and the mean stays one
    * keyed join + one doc agg.
    *
    * Scale shape: one shuffle on the token hash builds the vocabulary
    * counts and the occurrence join reuses that partitioning
    * (ReusedExchange); one re-agg on the doc id. The vocabulary frame
    * is Zipf-shaped — at extreme scale broadcast the head and bucket
    * the tail, same plan otherwise. */
  def unigramLogFreq(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = LlmOps.tokenHashes(df, idCol, textCol)
    val counts = toks.groupBy("h").agg(count(lit(1)).as("__cnt"))
    toks.join(counts, Seq("h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_tokens"),
        sum(length(bin(col("__cnt")))).as("__bits"))
      .select(col(idCol), col("n_tokens"),
        round(col("__bits").cast("double") / col("n_tokens"), 6).as("lm_score"))
  }

  /** n-gram generalization of [[unigramLogFreq]] — the documented
    * upgrade path taken: score = mean bit-length of each adjacent
    * n-word-gram's corpus frequency. A bigram model (n = 2) rewards
    * documents whose word TRANSITIONS are common, not just their
    * vocabulary — the signal that separates shuffled-word salad from
    * fluent text, which the unigram proxy cannot see. Same integer-
    * exact discipline (bit-length, one final division), same plan
    * (one gram-hash shuffle for the count frame, ReusedExchange on the
    * join-back, one doc re-agg). Documents with fewer than n words
    * have no grams and drop from the output (mirrored by the oracle's
    * join semantics). */
  def ngramLogFreq(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be positive: $n")
    val toks =
      if (n == 1) LlmOps.tokenHashes(df, idCol, textCol)
      else LlmOps.shingleHashes(df, idCol, textCol, n, dedup = false)
    val counts = toks.groupBy("h").agg(count(lit(1)).as("__cnt"))
    toks.join(counts, Seq("h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("long").as("n_ngrams"),
        sum(length(bin(col("__cnt")))).as("__bits"))
      .select(col(idCol), col("n_ngrams"),
        round(col("__bits").cast("double") / col("n_ngrams"), 6)
          .as("lm_score"))
  }

  /** Stupid-backoff trigram LM, trained in-engine on a reference
    * subset and applied as a perplexity gate over the whole corpus —
    * the REAL n-gram LM that [[unigramLogFreq]]'s docstring reserves
    * the slot for, in the CCNet position (Wenzek et al. 2020 train a
    * KenLM on Wikipedia and threshold CommonCrawl on its perplexity).
    *
    * The model is Brants et al. 2007's stupid backoff ("Large Language
    * Models in Machine Translation") — chosen BECAUSE it is the
    * distributable n-gram LM: no discounting or normalization pass,
    * the model IS the raw count tables, so training is three keyed
    * aggregations and nothing else. Score of a trigram (w1 w2 w3):
    *
    *   c(w1 w2 w3) > 0 :  log2 c(w1w2w3) − log2 c(w1w2)
    *   c(w2 w3)    > 0 :  log2 α + log2 c(w2w3) − log2 c(w2)
    *   otherwise       :  2·log2 α + log2(c(w3)+1) − log2(N+V)
    *
    * with the floor add-one-smoothed over the train unigrams (N =
    * train tokens, V = distinct train unigram hashes) so unseen words
    * get a finite cost. α is pinned to 1/2 — the paper's 0.4 is an
    * untuned constant ("different values work almost equally well"),
    * and a power of two keeps every term in [[log2Fixed]] integer
    * fixed point: per-gram scores are INTEGERS, the per-doc sum is
    * order-free, and both engines agree bit-for-bit (the one float op
    * is the final display division). Grams are keyed by the engine's
    * [[LlmOps.strHash]]; hash collisions merge counts identically in
    * both engines. Docs with fewer than 3 words have no trigrams and
    * drop from the output (mirrored by the oracle).
    *
    * Output: (idCol, n_grams, bits_per_gram = −mean score / 2^20 —
    * log2 of the doc's stupid-backoff "perplexity", lower = more
    * fluent under the reference corpus — and kept = the gate). The
    * gate compares UNROUNDED integers (−Σscore ≤ n·threshBits·2^20),
    * never the rounded float — the knife-edge discipline
    * ext_stream_curation established.
    *
    * Scale shape (the Brants construction, restructured in r19 — the
    * stage probe `bench_r19_lm_gate_stages_sf10.json` measured the r18
    * form at sf10 as pos-frame build 48.7 s / count tables 7.4 s /
    * five-join score side 11.8 s of a 77.7 s total, overturning the
    * suspected five-shuffle-join diagnosis exactly as the r18 pack
    * probe overturned the rank/band suspicion):
    *
    *  - The TRAIN side is three explode + keyed aggs over the train
    *    split, gram hashes computed by the native
    *    [[graft.functions.GramHashes]] rolling kernel (one O(chars)
    *    pass per doc) instead of interpreted shingle-string lambdas;
    *    [[log2Fixed]] runs once per distinct COUNT ROW, never per
    *    corpus token. The count tables are localCheckpoint-pinned:
    *    they are read once per join build, the pin bounds their
    *    recompute, and the pinned row counts drive the join-strategy
    *    branch below.
    *
    * EAGERNESS + RETAINED-PIN CONTRACT (documented like
    * [[graft.operators.ImageOps.imageAnnTopK]]): CONSTRUCTING the
    * returned frame runs Spark jobs — three eager localCheckpoints of
    * the count tables plus their row counts (the measured-size branch
    * needs real sizes before planning; estimates were the fragility
    * this replaced) — and the three pinned tables are RETAINED until
    * session GC or unpersist: this helper cannot know when its
    * caller's last action over the returned frame has run, so it never
    * releases them itself. Size is bounded by the train split's
    * distinct-gram count (uni+bi+tri rows, 4 longs each), NOT the
    * corpus; long-lived sessions that call this repeatedly accumulate
    * one pinned table-triple per call and should consume promptly or
    * run inside a bounded session (as the `lm_gate_stages` probe does). At
    * a Wikipedia-scale reference the triple is executor-storage
    * pressure worth releasing between calls.
    *  - The SCORE side was the dominant cost as interpreted work, not
    *    as shuffles: the r18 position frame built FIVE shingle strings
    *    per trigram position through a `transform` lambda and hashed
    *    each (unigram/bigram hashes computed twice). Now
    *    [[graft.functions.BackoffGramHashes]] emits the five probe
    *    hashes per position from the same rolling pass — no shingle
    *    strings exist at all, each gram hashed once.
    *  - The five count-table lookups pick their join strategy by
    *    MEASURED size, not estimate: when the pinned tables total ≤
    *    `maxBroadcastRows` (default 2M rows ≈ low hundreds of MB of
    *    hashed relation — the guide's "usually fine" broadcast band;
    *    env `SPARK_GRAFT_LM_BCAST_MAXROWS` overrides, and the full
    *    oracle gate is replayed with the override forcing each branch)
    *    they are explicitly broadcast — the token-granularity frame is
    *    never shuffled, the exact CCNet shape (the reference corpus is
    *    small by construction). Past the threshold — the 100 TB shape
    *    with a Wikipedia-scale reference — the three tables tag-union
    *    into ONE frame keyed by `k = h·4 + level` (injective:
    *    [[LlmOps.strHash]] < 2^30 so k < 2^32), each position explodes
    *    into five (slot, k) probes, ONE left join on k resolves every
    *    lookup, and a (doc, position) regroup pivots the slots back
    *    into columns — two keyed passes over the probe frame instead
    *    of five SMJ re-shuffles, with AQE splitting skewed probe
    *    partitions (stopword grams concentrate keys).
    *
    * Both branches produce bit-identical scores: the pivot
    * reconstructs exactly the five left-join results (k is injective
    * and unique per count table, so each (position, slot) matches at
    * most the single row the broadcast join matches), the kernel
    * hashes equal the concat_ws+PolyHash composition by the rolling
    * identity (spec-pinned in GramHashesSpec), and the per-doc sums
    * are order-free integers — proven by the dual-scale oracle replay
    * of BOTH branches and the probe checksum in
    * `bench_r19_lm_gate_stages_sf10.json`. */
  def lmStupidBackoff(
      df: DataFrame, idCol: String, textCol: String,
      trainPred: Column, threshBits: Int = 8): DataFrame =
    lmStupidBackoffImpl(df, idCol, textCol, trainPred, threshBits,
      // a malformed env value must not break every call — fall back to
      // the default rather than throwing NumberFormatException (advice)
      maxBroadcastRows = sys.env.get("SPARK_GRAFT_LM_BCAST_MAXROWS")
        .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        .getOrElse(2000000L))

  private[graft] def lmStupidBackoffImpl(
      df: DataFrame, idCol: String, textCol: String,
      trainPred: Column, threshBits: Int,
      maxBroadcastRows: Long): DataFrame = {
    require(threshBits >= 1, s"threshBits must be positive: $threshBits")
    val F = 1L << 20

    def counts(n: Int): DataFrame = df.filter(trainPred)
      .select(LlmOps.words(col(textCol)).as("__ws"))
      .select(explode(LlmOps.gramHashesOf(col("__ws"), n)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val uni = counts(1).select(col("h"), col("c"),
      log2Fixed(col("c")).as("f"), log2Fixed(col("c") + 1L).as("fp"))
      .localCheckpoint(true)
    val bi = counts(2).select(col("h"), log2Fixed(col("c")).as("f"))
      .localCheckpoint(true)
    val tri = counts(3).select(col("h"), log2Fixed(col("c")).as("f"))
      .localCheckpoint(true)
    // the unigram floor's add-one denominator: one row, broadcast.
    // Derived from the pinned uni (which carries c) — no extra train
    // scan, identical numbers (uni IS counts(1) row for row).
    val tot = uni.agg(sum(col("c")).as("__n"), count(lit(1)).as("__v"))
      .select(log2Fixed(col("__n") + col("__v")).as("__ft"))

    // __rk: a per-input-row key unique even when idCol carries
    // duplicates (or nulls) — the tag-union pivot below groups by it,
    // so positions from two rows sharing an id can never collapse into
    // one (id, pos) group (which would diverge from the broadcast
    // branch; advice item). Unused columns prune away in the broadcast
    // branch, so it costs nothing there.
    val pos = df
      .select(col(idCol), LlmOps.words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 3)
      .select(col(idCol), monotonically_increasing_id().as("__rk"),
        col("__ws"))
      .select(col(idCol), col("__rk"),
        posexplode(LlmOps.backoffGramHashesOf(col("__ws")))
          .as(Seq("__pos", "__g")))
      .select(col(idCol), col("__rk"), col("__pos"),
        col("__g.h3").as("h3"), col("__g.h2c").as("h2c"),
        col("__g.h2").as("h2"), col("__g.h1c").as("h1c"),
        col("__g.h1").as("h1"))

    val nCnt = uni.count() + bi.count() + tri.count()
    val scored =
      if (nCnt <= maxBroadcastRows) {
        // measured-small count tables: broadcast them — the
        // token-granularity frame is never shuffled
        pos
          .join(broadcast(tri.select(col("h").as("h3"), col("f").as("f3"))),
            Seq("h3"), "left")
          .join(broadcast(bi.select(col("h").as("h2c"), col("f").as("f2c"))),
            Seq("h2c"), "left")
          .join(broadcast(bi.select(col("h").as("h2"), col("f").as("f2"))),
            Seq("h2"), "left")
          .join(broadcast(uni.select(col("h").as("h1c"), col("f").as("f1c"))),
            Seq("h1c"), "left")
          .join(broadcast(uni.select(col("h").as("h1"), col("fp").as("f1p"))),
            Seq("h1"), "left")
      } else {
        // the 100 TB shape: one lookup table keyed k = h*4 + level
        // (v the log2Fixed count, vp the add-one variant — unigram
        // rows only, the one slot that reads it), five (slot, k)
        // probes per position, ONE join, pivot back by (id, __pos)
        val nl = lit(null).cast("long")
        val cnt = tri.select((col("h") * 4 + 3).as("k"), col("f").as("v"),
            nl.as("vp"))
          .unionByName(bi.select((col("h") * 4 + 2).as("k"), col("f").as("v"),
            nl.as("vp")))
          .unionByName(uni.select((col("h") * 4 + 1).as("k"), col("f").as("v"),
            col("fp").as("vp")))
        pos.select(col(idCol), col("__rk"), col("__pos"), explode(array(
            struct(lit(0).as("slot"), (col("h3") * 4 + 3).as("k")),
            struct(lit(1).as("slot"), (col("h2c") * 4 + 2).as("k")),
            struct(lit(2).as("slot"), (col("h2") * 4 + 2).as("k")),
            struct(lit(3).as("slot"), (col("h1c") * 4 + 1).as("k")),
            struct(lit(4).as("slot"), (col("h1") * 4 + 1).as("k")))).as("__p"))
          .select(col(idCol), col("__rk"), col("__pos"),
            col("__p.slot").as("__slot"), col("__p.k").as("k"))
          .join(cnt, Seq("k"), "left")
          .select(col(idCol), col("__rk"), col("__pos"), col("__slot"),
            when(col("__slot") === 4, col("vp")).otherwise(col("v")).as("__v"))
          .groupBy(col(idCol), col("__rk"), col("__pos"))
          .agg(
            max(when(col("__slot") === 0, col("__v"))).as("f3"),
            max(when(col("__slot") === 1, col("__v"))).as("f2c"),
            max(when(col("__slot") === 2, col("__v"))).as("f2"),
            max(when(col("__slot") === 3, col("__v"))).as("f1c"),
            max(when(col("__slot") === 4, col("__v"))).as("f1p"))
      }

    scored
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        // c3>0 implies its prefix bigram occurred (f2c defined), and
        // c2>0 implies w2 occurred (f1c defined) — no null leaks
        when(col("f3").isNotNull, col("f3") - col("f2c"))
          .when(col("f2").isNotNull, col("f2") - col("f1c") - lit(F))
          .otherwise(coalesce(col("f1p"), lit(0L)) - col("__ft") - lit(2L * F))
          .as("__s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"), sum(col("__s")).as("__sum"))
      .select(col(idCol), col("n_grams"),
        round(-col("__sum").cast("double") / (col("n_grams") * lit(F)), 6)
          .as("bits_per_gram"),
        (-col("__sum") <= col("n_grams") * lit(threshBits.toLong * F))
          .cast("long").as("kept"))
  }

  /** Document fingerprint: polynomial hash of the normalized text
    * (lowercase, trimmed, whitespace collapsed) — the exact-dedup key.
    * `n_same` counts documents sharing the fingerprint (keyed window,
    * shuffles on fp — the intended dedup shuffle). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(trim(lower(col(textCol))), "\\s+", " ")
    df.select(col(idCol), LlmOps.strHash(norm).as("fp"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy("fp")))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm; rolling-hash document fingerprinting). Text is
    * normalized to bare [a-z0-9] (case/whitespace/punctuation-
    * insensitive), hashed at every k-char gram, and each window of w
    * consecutive gram hashes selects its minimum (rightmost position on
    * ties). The selected (fp, pos) set carries the winnowing GUARANTEE:
    * any shared run of ≥ w+k−1 normalized chars between two documents
    * yields at least one shared fingerprint — LOCAL overlap detection
    * (quotes, shared passages, partial plagiarism) that the GLOBAL
    * sketches (MinHash Jaccard, SimHash) structurally miss, at an
    * expected density of ~2/(w+1) of the gram count. Documents shorter
    * than w+k−1 normalized chars produce no fingerprints.
    *
    * Scale shape: one explode (gram index per row, hash computed
    * per-row AFTER the explode — scalar codegen, no higher-order
    * lambdas) and ONE keyed shuffle: a (doc, gram-index) window pass
    * selects each w-window's minimum, sharing its sort with the
    * completeness count — the same one-keyed-shuffle family as tfDf
    * and packSequences. A previous formulation built the hash array
    * and window selection as NESTED higher-order lambdas over one
    * projected alias; CollapseProject inlined the whole O(len) hash
    * chain into every per-window reference and the optimizer ground to
    * a halt building the O(len·w)-node tree — the relational form is
    * both the fast one and the one the DuckDB oracle mirrors
    * line-for-line.
    *
    * Output: (idCol, fp BIGINT, pos BIGINT) — pos is the 1-based gram
    * index of the selected hash; (idCol, pos) is unique. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1: k=$k w=$w")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, Substring}
    // substring with a DYNAMIC position (the Scala functions.substring
    // only takes literal pos/len)
    def gram(s: Column, pos: Column): Column = ColumnBridge.column(
      Substring(ColumnBridge.expression(s), ColumnBridge.expression(pos),
        Literal(k)))
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    val grams = df.select(col(idCol), norm.as("__s"))
      .withColumn("__n", length(col("__s")) - (k - 1)) // gram count
      .filter(col("__n") >= 1)
      .select(col(idCol), col("__s"),
        explode(sequence(lit(1L), col("__n").cast("long"))).as("i"))
      .select(col(idCol), col("i"),
        LlmOps.strHash(gram(col("__s"), col("i"))).as("h"))
    // window starting at gram i covers hashes i..i+w-1; min(struct(h,-i))
    // is (min hash, rightmost gram index on ties) in one frame pass
    val win = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("__cnt", count(lit(1)).over(win))
      .withColumn("__sel", min(struct(col("h"), (-col("i")).as("ni"))).over(win))
      .filter(col("__cnt") === w) // complete windows only
      .select(col(idCol), col("__sel.h").as("fp"), (-col("__sel.ni")).as("pos"))
      .distinct()
  }

  /** Overlap pairs over winnowing fingerprints: documents sharing
    * ≥ minShared selected fingerprints, scored by containment
    * shared / min(|A|, |B|) (the plagiarism-detection score — a short
    * quote inside a long document still scores high, where Jaccard
    * would dilute it). Bucket-bounded like every similarity join here:
    * fingerprints held by more than maxDocsPerFp documents are dropped
    * before the self-join (corpus-frequent grams are boilerplate noise
    * for OVERLAP detection, and the df cap is what keeps the join from
    * going quadratic on them — same law as sparseCosinePairs, measured
    * in `bench_r8_tfidf_band_probe.json`). Containment denominators use
    * the UNCAPPED fingerprint sets, so the cap only prunes candidate
    * generation, never the score's meaning.
    *
    * Plan shape (measured, executed plans sf0.001→sf10): the
    * fingerprint frame is referenced five times (df agg, both join
    * sides, two size joins) but instantiates only twice —
    * ReusedExchange collapses the rest — and at sf10 the whole pair
    * search costs 1.36× the fingerprint pass alone
    * (`bench_r8_winnow_scale_probe.json`), so the reuse mechanism, not
    * an eager pin, bounds the recompute; a localCheckpoint of the fps
    * frame is the escape hatch if a future corpus shows otherwise. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocsPerFp: Long = 50,
      minShared: Long = 2): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val sizes = fps.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val bounded = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxDocsPerFp)
        .select("fp"),
      Seq("fp"))
    val inter = bounded.as("a")
      .join(bounded.as("b"),
        col("a.fp") === col("b.fp") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    inter
      .join(sizes.select(col(idCol).as("doc_a"), col("n").as("__na")), Seq("doc_a"))
      .join(sizes.select(col(idCol).as("doc_b"), col("n").as("__nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(col("shared").cast("double") / least(col("__na"), col("__nb")), 6)
          .as("overlap"))
  }

  /** Duplicated-span report: for every document, the char spans of its
    * NORMALIZED text (the `[^a-z0-9]`-stripped form winnowing hashes)
    * that repeat a passage already present in an earlier (lower-id)
    * document — the passage-level complement of document-level dedup:
    * C4/RefinedWeb-style curation wants the borrowed span excised, not
    * the whole (otherwise novel) document dropped.
    *
    * Mechanism: winnowing fingerprints carry their gram position, and
    * the winnowing guarantee makes any shared normalized run
    * ≥ k+w−1 chars yield ≥ 1 shared selected fingerprint, so a
    * duplicated passage shows up as a positional CLUSTER of
    * fingerprints whose minimum owner id is some earlier doc. Steps:
    * df-cap the fingerprints exactly like [[winnowPairs]] (corpus-
    * frequent grams are boilerplate noise, and the cap is what bounds
    * the owner aggregation), attribute each surviving fp to its
    * min-id owner, keep the (doc, pos) hits where the doc is NOT the
    * owner, and merge per-doc hits closer than `gap` grams into spans
    * (classic gaps-and-islands: one lag + one running sum + one group,
    * all on the SAME doc-id partitioning). Measured
    * (`bench_r10_newops_scale_probe.json`, warmup-deconfounded): the
    * report costs ~1.08× the pair search at sf0.1 AND sf1 — the
    * doc-keyed window passes buy back what skipping the pair join
    * saves — but, having NO pair join, it cannot go quadratic on a
    * degenerate fingerprint distribution, where the pair search
    * leans on its df cap for that bound.
    * Spans supported by < minFps fingerprints are dropped (a single
    * shared fp is within hash-collision/boilerplate noise).
    *
    * Output: (idCol, span_start, span_end, n_fps) with span ends
    * inclusive of the final gram's k chars, sorted ascending within a
    * doc. Excising `[span_start, span_end]` from the normalized text
    * removes the shared run; mapping back to raw-text offsets needs
    * the caller to retain its own normalization index map (documented
    * deliberately: the report is the operator, the edit policy is the
    * pipeline's). */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocsPerFp: Long = 50,
      gap: Long = 32, minFps: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    // df-cap on DISTINCT docs per fp (a doc repeating its own phrase is
    // not corpus frequency), lower bound 2 (a unique fp has no owner
    // but itself and can never mark a duplicate)
    val capped = fps.join(
      fps.select(col(idCol), col("fp")).distinct()
        .groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") >= 2 && col("__df") <= maxDocsPerFp)
        .select("fp"),
      Seq("fp"))
    val owners = capped.groupBy("fp").agg(min(col(idCol)).as("__owner"))
    val hits = capped.join(owners, Seq("fp"))
      .filter(col(idCol) > col("__owner"))
      .select(col(idCol), col("pos")).distinct()
    val byPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val running = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) > gap, 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(running))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (k - 1)).as("span_end"),
        count(lit(1)).as("n_fps"))
      .filter(col("n_fps") >= minFps)
      .select(col(idCol), col("span_start"), col("span_end"), col("n_fps"))
  }

  /** Excise the [[dupSpans]] spans from the RAW text: the action
    * counterpart of the report — C4/RefinedWeb-style curation keeps the
    * novel document and cuts only the passage it borrowed from an
    * earlier doc.
    *
    * The spans live in NORMALIZED coordinates (position among the
    * `[a-z0-9]` chars), so excision maps them back through the raw
    * text inside [[graft.functions.ExciseSpans]] — one codegen'd
    * imperative pass per document that maintains the running
    * kept-char count n(i) and cuts a raw char when it IS a kept char
    * inside a span (n(i) ∈ [start, end]) or a separator strictly
    * interior to one (n(i) ∈ [start, end-1] for non-kept chars —
    * punctuation/space between two excised chars goes with them; the
    * separators at the span's outer boundary stay). Docs that carry at
    * least one cut are then whitespace-renormalized (`\s+`→single
    * space, trimmed) so the cut seams don't leave double spaces;
    * span-free docs pass through BYTE-IDENTICAL (no rewrite — the
    * common case costs the anti-join probe only). The per-row pass
    * replaced a per-char posexplode + unbounded-preceding window
    * keyed only on the doc id: that shape serialized every dirty doc
    * through ONE partition at one-row-per-char, a spill/OOM skew for
    * a single tens-of-MB document; the expression costs O(len) on the
    * partition the doc already occupies.
    *
    * Output: the input frame with `textCol` replaced by the cleaned
    * text. Deterministic given the corpus (owner choice is min-id). */
  def stripDupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDocsPerFp: Long = 50,
      gap: Long = 32, minFps: Long = 2): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, k, w, maxDocsPerFp, gap, minFps)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val dirty = df.join(spans, Seq(idCol))
    val clean = df.join(spans.select(idCol), Seq(idCol), "left_anti")
    val excised = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.ExciseSpans(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("__spans"))))
    val cleaned = dirty
      .withColumn(textCol, trim(regexp_replace(excised, "\\s+", " ")))
      .drop("__spans")
    clean.unionByName(
      cleaned.select(clean.columns.map(col).toIndexedSeq: _*))
  }

  /** Hashed-linear text-classifier inference — the fastText-style
    * quality-filter slot of a curation pipeline: per document,
    * score = sigmoid(bias + (Σ_tokens w[h(token)]) / scale / n_tokens),
    * i.e. a logistic regression over a hashed bag-of-words with mean
    * pooling. Feature hashing is the engine's deterministic
    * [[LlmOps.strHash]] (PolyHash) mod `nBuckets`; the weight table is
    * FIXED-POINT INTEGERS (micro-units, divided by `scale` exactly once
    * at the end), so the per-doc accumulation is an integer sum —
    * order-independent by construction, bit-reproducible across
    * partitionings and engines without any sorted-fold machinery. The
    * only float ops are one divide and one sigmoid per document.
    *
    * Scale shape: the model broadcasts (a quantized fastText-class
    * table is MBs even at 2M buckets); the corpus explodes to tokens,
    * map-side-joins the weights, and partial-aggregates into ONE keyed
    * shuffle on the doc id with bounded per-doc state. Tokens hashing
    * to a bucket absent from the table contribute weight 0.
    *
    * Output: (idCol, n_tokens, w_sum, score) — w_sum is the
    * integer-exact accumulator (strong oracle signal), score is rounded
    * to 6 decimals. */
  def classifierScore(
      df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, nBuckets: Int,
      scale: Double = 1000.0, bias: Double = 0.0): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(scale > 0, s"scale must be positive: $scale")
    val toks = df
      .select(col(idCol), explode(LlmOps.words(col(textCol))).as("__w"))
      .select(col(idCol),
        pmod(LlmOps.strHash(col("__w")), lit(nBuckets.toLong)).as("bucket"))
    val logit = lit(bias) +
      col("w_sum").cast("double") / lit(scale) / col("n_tokens")
    toks
      .join(broadcast(weights.select(col("bucket"), col("w"))),
        Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w"), lit(0L))).as("w_sum"))
      .withColumn("score", round(lit(1.0) / (lit(1.0) + exp(-logit)), 6))
      .select(col(idCol), col("n_tokens"), col("w_sum"), col("score"))
  }

  /** Per-ROW classifier scoring — the shuffle-free twin of
    * [[classifierScore]] for streaming ingest and map-only batch
    * gates: the weight table rides as a LITERAL map in the plan
    * (bounded — nBuckets entries), each row folds its own tokens into
    * the integer w_sum, and no aggregation touches the stream — so
    * the gate composes with `readStream` exactly like the per-row
    * Gopher/C4 gates (no watermark, no state). Integer accumulation in
    * token order gives the IDENTICAL w_sum as the explode+agg form
    * (integer sums are order-free), so batch and streaming scores
    * agree bit-for-bit — pinned by the spec.
    *
    * Output: struct(n_tokens, w_sum, score). The per-row HOF fold is
    * ~tokens·k interpreted node evals (the quantize-class envelope,
    * fine off the pair-hot path); a native expression is the upgrade
    * slot if ingest CPU ever binds.
    *
    * NULL TEXT: a null text column yields a struct with null fields,
    * while the batch [[classifierScore]] drops the row entirely (the
    * explode of a null token array emits no rows) — so "batch and
    * streaming scores agree bit-for-bit" holds for non-null text, and
    * the two forms agree as FILTERS (a `score >= τ` gate drops
    * null-text rows in both: null comparisons are never true), but a
    * consumer reading the struct itself sees a null-field row here vs
    * row absence there.
    *
    * WEIGHT-TABLE BOUND: the map is serialized INTO the plan (that is
    * what makes the form shuffle-free), so its size is a plan-size
    * bomb, not a data-scale knob — a real fastText-sized table
    * (millions of buckets) must use the broadcast-join
    * [[classifierScore]] instead. Hard-capped at 65536 entries, the
    * distilled-gate envelope the form was built for. */
  def classifierScoreRow(textCol: Column, weights: Map[Long, Long],
      nBuckets: Int, scale: Double = 1000.0, bias: Double = 0.0): Column = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(scale > 0, s"scale must be positive: $scale")
    require(weights.size <= 65536,
      s"classifierScoreRow ships its ${weights.size}-entry weight table " +
        "as a plan literal; beyond 65536 entries use the broadcast-join " +
        "classifierScore form (same arithmetic, corpus-scale table)")
    val wmap = typedLit(weights)
    val ws = LlmOps.words(textCol)
    val wSum = aggregate(ws, lit(0L), (acc, w) => acc +
      coalesce(element_at(wmap,
        pmod(LlmOps.strHash(w), lit(nBuckets.toLong))), lit(0L)))
    val n = size(ws).cast("long")
    struct(
      n.as("n_tokens"),
      wSum.as("w_sum"),
      round(lit(1.0) / (lit(1.0) +
        exp(-(lit(bias) + wSum.cast("double") / lit(scale) / n))), 6)
        .as("score"))
  }

  /** TRAIN the hashed-linear quality classifier in-engine — the
    * missing half of [[classifierScore]]'s inference slot: given
    * labeled seed sets (the GPT-3/LLaMA recipe: positives = a curated
    * corpus, negatives = a raw-crawl sample), run `iters` rounds of
    * FULL-BATCH gradient descent on a logistic model over hashed
    * token-PRESENCE features, entirely in engine-portable arithmetic:
    *
    *  - features: distinct (doc, bucket) memberships — integer,
    *    order-free;
    *  - per-doc logit z = (Σ_{b∈d} w_b) / (scale · n_d) with integer
    *    numerator (order-independent BIGINT sum);
    *  - HARD sigmoid p = clamp(1/2 + z/4, 0, 1) instead of exp —
    *    every step (power-of-two scales, one IEEE divide, clamp,
    *    round·2^20) is exactly reproducible across engines, where
    *    libm's exp is not;
    *  - per-bucket gradient g_b = Σ_{d∋b} (round(p·2^20) − y·2^20) —
    *    a BIGINT sum of BIGINTs;
    *  - update w ← w − (g·lrNum) div lrDen in truncated integer
    *    division (Spark `div` and DuckDB `//` both truncate toward
    *    zero — probed, not assumed).
    *
    * Output: the complete bucket domain with INTEGER weights in
    * [[classifierScore]]'s micro-unit convention — train here, score
    * there, one closed loop. The unsupervised twin is [[dsirWeights]]
    * (target distribution instead of labels, counts instead of a
    * trained discriminator).
    *
    * Scale shape per round: the weight table is nBuckets rows —
    * broadcast into the scoring join; the two aggregations (doc-keyed
    * logits, bucket-keyed gradients) are both map-side-combined keyed
    * shuffles of the feature frame, the same shape as one
    * [[classifierScore]] pass.
    *
    * Round chaining (r20, probe-measured): for `iters` ≤
    * `SPARK_GRAFT_CLASSIFIER_FUSE_MAXITERS` (default 4) the rounds are
    * chained IN ONE LAZY PLAN — no per-round localCheckpoint, no
    * persist: the feature frame's exchange subtree is identical at
    * every reference, so Spark's exchange reuse computes it once, and
    * the whole training runs as one job at action time. The sf10 probe
    * (`bench_r20_classifier_train_stages_sf10.json`) put the
    * checkpointed loop at 9.3 s vs 3.1 s fused on the production query
    * (count-forced), with bit-identical weights — the per-round eager
    * checkpoint jobs WERE the cost (they also explain the r19 driver's
    * anomalous 0.35 core-scaling reading: fixed per-job overhead, not
    * compute). Past the threshold the checkpointed loop returns
    * (constant-size lineage — plan depth grows per chained round, the
    * [[LlmOps.kmeansCentroids]] training discipline); the returned
    * frame is then pinned, where the fused form re-trains per action —
    * callers that act repeatedly on a small-iters result should
    * localCheckpoint it themselves. */
  def classifierTrain(
      pos: DataFrame, neg: DataFrame, idCol: String, textCol: String,
      nBuckets: Int, iters: Int = 3, scale: Long = 1L << 20,
      lrNum: Long = 1L, lrDen: Long = 4096L): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(iters >= 0, s"iters must be non-negative: $iters")
    require(scale > 0 && lrNum > 0 && lrDen > 0,
      s"scale/lr must be positive: $scale $lrNum $lrDen")
    val FP = 1L << 20
    val spark = pos.sparkSession
    val fuseMax = sys.env.get("SPARK_GRAFT_CLASSIFIER_FUSE_MAXITERS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).getOrElse(4)
    // (y, id) keys a doc — ids need only be unique WITHIN each side
    def feats(df: DataFrame, y: Int): DataFrame = df
      .select(col(idCol).as("__r"), col(textCol))
      .select(col("__r"), explode(LlmOps.words(col(textCol))).as("__w"))
      .select(lit(y).as("y"), col("__r"),
        pmod(LlmOps.strHash(col("__w")), lit(nBuckets.toLong)).as("bucket"))
      .distinct()
    if (iters <= fuseMax) {
      // fused branch: one lazy plan, exchange reuse dedupes the feature
      // frame, zero training-time Spark jobs
      val f = feats(pos, 1).unionByName(feats(neg, 0))
      val nd = f.groupBy(col("y"), col("__r"))
        .agg(count(lit(1)).as("__n"))
      var w: DataFrame = spark.range(nBuckets)
        .select(col("id").as("bucket"), lit(0L).as("w"))
      for (_ <- 1 to iters) {
        val z = f.join(broadcast(w), Seq("bucket"))
          .groupBy(col("y"), col("__r"))
          .agg(sum(col("w")).as("__zn"))
          .join(nd, Seq("y", "__r"))
        val p = greatest(lit(0.0), least(lit(1.0),
          lit(0.5) + col("__zn").cast("double") /
            (lit(4.0 * scale) * col("__n"))))
        val err = z.select(col("y"), col("__r"),
          (round(p * FP, 0).cast("long") - col("y") * FP).as("__e"))
        val grad = f.join(err, Seq("y", "__r"))
          .groupBy(col("bucket"))
          .agg(sum(col("__e")).as("__g"))
        w = w.join(grad, Seq("bucket"), "left")
          .select(col("bucket"),
            (col("w") - expr(s"coalesce(__g, 0L) * $lrNum div $lrDen"))
              .as("w"))
      }
      return w
    }
    val f = feats(pos, 1).unionByName(feats(neg, 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = f.groupBy(col("y"), col("__r"))
      .agg(count(lit(1)).as("__n"))
    var w: DataFrame = spark.range(nBuckets)
      .select(col("id").as("bucket"), lit(0L).as("w"))
    var prevCp: Option[DataFrame] = None
    try {
      for (_ <- 1 to iters) {
        // logit numerators: one keyed agg over the feature frame with
        // the nBuckets-row weight table broadcast in
        val z = f.join(broadcast(w), Seq("bucket"))
          .groupBy(col("y"), col("__r"))
          .agg(sum(col("w")).as("__zn"))
          .join(nd, Seq("y", "__r"))
        // hard sigmoid in 2^-20 fixed point: every float op is either
        // exact (power-of-two scaling, clamp) or a single IEEE divide
        val p = greatest(lit(0.0), least(lit(1.0),
          lit(0.5) + col("__zn").cast("double") /
            (lit(4.0 * scale) * col("__n"))))
        val err = z.select(col("y"), col("__r"),
          (round(p * FP, 0).cast("long") - col("y") * FP).as("__e"))
        val grad = f.join(err, Seq("y", "__r"))
          .groupBy(col("bucket"))
          .agg(sum(col("__e")).as("__g"))
        w = w.join(grad, Seq("bucket"), "left")
          .select(col("bucket"),
            (col("w") - expr(s"coalesce(__g, 0L) * $lrNum div $lrDen"))
              .as("w"))
          .localCheckpoint(true)
        prevCp.foreach(LlmOps.releaseCheckpoint)
        prevCp = Some(w)
      }
    } catch { case t: Throwable =>
      prevCp.foreach(LlmOps.releaseCheckpoint)
      f.unpersist(false)
      throw t
    }
    f.unpersist(false)
    w
  }

  /** C4-style line/segment cleaning (Raffel et al. 2020 §2.2), on the
    * word-window segment unit (see [[dedupDocSegments]] for why):
    * split the doc into consecutive non-overlapping `window`-word
    * segments, KEEP a segment iff it has ≥ `minSegWords` words and
    * contains no blacklisted token (C4 drops lines with "lorem ipsum",
    * "javascript", curly braces, ...), reassemble survivors in order,
    * and DROP the whole document when fewer than `minSegs` segments
    * survive (C4's "pages with fewer than 5 sentences" rule).
    *
    * Entirely per-row — since r19 as ONE native compiled pass
    * ([[graft.functions.C4CleanText]]): the previous relational form
    * ran the keep decision and the reassembly through index-based
    * higher-order lambdas (`filter(sequence)`, `exists(slice)`,
    * `transform + array_join(slice)`) which evaluate INTERPRETED and
    * allocate a fresh array per segment slice — the same
    * interpreted-HOF hot path the r19 LM-gate probe named, on the
    * query (`llm_curation2_e2e`) that became the sf10 heavy set's top
    * cost after the gate fix. The kernel reproduces the composed
    * form's split/lower/slice/join semantics exactly (spec-pinned in
    * C4CleanTextSpec; every rider query re-proven against the full
    * dual-scale oracle gate). Still NO explode, NO shuffle; fuses with
    * the scan at any scale, and the doc-level drop is an ordinary
    * filter. */
  def c4Clean(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 10, minSegWords: Int = 5, minSegs: Int = 3,
      blacklist: Seq[String] =
        Seq("lorem", "ipsum", "javascript", "{", "}"),
      carry: Seq[String] = Nil): DataFrame = {
    require(window > 0, s"segment window must be positive: $window")
    require(minSegWords >= 1 && minSegWords <= window,
      s"minSegWords must be in [1, window]: $minSegWords")
    val kernel = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.C4CleanText(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col(textCol)),
        window, minSegWords, blacklist))
    // `carry` threads extra columns (event time, provenance) through —
    // the streaming ingest composition needs the timestamp to survive
    df.select(col(idCol) +: carry.map(col) :+ kernel.as("__c4"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("__c4.n_total").as("n_total") :+
        col("__c4.n_kept").as("n_kept") :+
        col("__c4.text_clean").as("text_clean"): _*)
      .filter(col("n_kept") >= minSegs)
  }

  /** Engine-portable fixed-point binary logarithm: ≈ ⌊log2(n)·2^bits⌋
    * for a positive integer column, computed WITHOUT libm — normalize
    * to y ∈ [1,2) (exact: a division by a power of two), then extract
    * `bits` fractional digits by repeated squaring (squaring doubles
    * the log; y ≥ 2 after a square means the next digit is 1). Every
    * step is an IEEE-exactly-specified double op (multiply, divide by
    * 2, compare), so Spark and DuckDB — and any IEEE-754 engine —
    * produce the IDENTICAL integer: the determinism of bit-length
    * ([[unigramLogFreq]]) at 2^-bits resolution. (The squares round at
    * 53 mantissa bits, so the lowest digits can differ from the true
    * ⌊log2·2^bits⌋ — deterministically, identically on every engine.) */
  private[graft] def log2Fixed(c: Column, bits: Int = 20): Column = {
    val b = (length(bin(c)) - 1).cast("long")
    val y0 = c.cast("double") / pow(lit(2.0), b)
    val folded = aggregate(
      sequence(lit(1), lit(bits)),
      struct(y0.as("y"), lit(0L).as("v")),
      (acc, _) => {
        val y2 = acc.getField("y") * acc.getField("y")
        when(y2 >= 2.0,
          struct((y2 / 2.0).as("y"), (acc.getField("v") * 2 + 1).as("v")))
          .otherwise(struct(y2.as("y"), (acc.getField("v") * 2).as("v")))
      },
      acc => acc.getField("v"))
    b * lit(1L << bits) + folded
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed bag-of-words
    * unigram models of a small TARGET corpus (the distribution you
    * want) and the RAW corpus (what you have); the per-bucket weight is
    * the add-one-smoothed log-likelihood ratio
    * `log2 p_target(b) − log2 p_raw(b)` in [[log2Fixed]] fixed point —
    * INTEGER weights, so downstream accumulation is order-exact.
    * Output: one row per bucket in [0, nBuckets) — complete domain, so
    * the score join never misses — with the raw counts kept for audit.
    *
    * Scale shape: two token-hash aggregations to nBuckets-bounded
    * frames (the target corpus is small by construction; the raw count
    * is one map-side-combined pass), totals via one-row broadcast
    * cross joins; the weight table is nBuckets rows — broadcast it. */
  /** DSIR feature stream: hashed word n-grams, bucketed. n = 1 is the
    * unigram default; n = 2 gives the paper's hashed-bigram features
    * (context-sensitive: "bank loan" and "river bank" stop aliasing). */
  private def dsirFeatures(
      df: DataFrame, idCol: String, textCol: String,
      featureNgrams: Int, nBuckets: Int): DataFrame = {
    val h =
      if (featureNgrams == 1) LlmOps.tokenHashes(df, idCol, textCol)
      else LlmOps.shingleHashes(df, idCol, textCol, featureNgrams,
        dedup = false)
    h.select(col(idCol),
      pmod(col("h"), lit(nBuckets.toLong)).as("bucket"))
  }

  def dsirWeights(
      target: DataFrame, raw: DataFrame, textCol: String,
      nBuckets: Int, featureNgrams: Int = 1): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    require(featureNgrams >= 1,
      s"featureNgrams must be positive: $featureNgrams")
    def bucketCounts(df: DataFrame, cnt: String): DataFrame =
      dsirFeatures(df.select(lit(0L).as("__fid"), col(textCol)),
        "__fid", textCol, featureNgrams, nBuckets)
      .groupBy("bucket").agg(count(lit(1)).as(cnt))
    val spark = target.sparkSession
    val tc = bucketCounts(target, "ct")
    val rc = bucketCounts(raw, "cr")
    spark.range(nBuckets).select(col("id").as("bucket"))
      .join(tc, Seq("bucket"), "left")
      .join(rc, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .crossJoin(broadcast(tc.agg(sum("ct").as("__t"))))
      .crossJoin(broadcast(rc.agg(sum("cr").as("__r"))))
      .select(col("bucket"), col("ct"), col("cr"),
        (log2Fixed(col("ct") + 1L) - log2Fixed(col("__t") + nBuckets) -
          log2Fixed(col("cr") + 1L) + log2Fixed(col("__r") + nBuckets))
          .as("w"))
  }

  /** DSIR document scores: score = Σ over tokens of the bucket's
    * [[dsirWeights]] weight — an order-independent BIGINT sum (the
    * doc's estimated log-likelihood ratio, fixed point), plus the
    * float rendering `lr` for human audit. Selection is the
    * deterministic top-k by (score, id) — `TakeOrderedAndProject`, no
    * global sort materialization; a Gumbel-noise key (hash-seeded)
    * plugs into the same sort for sampled-not-ranked selection.
    *
    * Scale shape: one token explode + broadcast weight join (nBuckets
    * rows) + one doc-keyed agg — the same plan as [[classifierScore]]. */
  def dsirScores(
      df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, nBuckets: Int,
      featureNgrams: Int = 1): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    dsirFeatures(df, idCol, textCol, featureNgrams, nBuckets)
      .join(broadcast(weights.select(col("bucket"), col("w"))),
        Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w"), lit(0L))).as("score"))
      .withColumn("lr",
        round(col("score").cast("double") / lit((1L << 20).toDouble), 6))
  }

  /** Top-k DSIR selection (ties broken by id for engine parity). */
  def dsirTopK(scores: DataFrame, idCol: String, k: Int): DataFrame =
    scores.orderBy(col("score").desc, col(idCol)).limit(k)

  /** The Gopher repetition battery (Rae et al. 2021 §A1.1, Table A1):
    * per-document character-coverage fractions for word n-grams —
    * `top_{n}gram_frac` (n = 2,3,4) = the dominant n-gram's coverage
    * `max_g(count_g · chars_g) / chars`, and `dup_{n}gram_frac`
    * (n = 5..10) = the coverage of all repeated n-grams
    * `Σ_{count ≥ 2}(count_g · chars_g) / chars` — plus `keep` = every
    * fraction at or under its Gopher threshold (0.20/0.18/0.16 top,
    * 0.15..0.10 dup). Complements [[repetitionSignals]]' two coarse
    * signals with the full published rule set; the line-level twins
    * are [[dedupDocSegments]]/[[stripBoilerplate]]. Coverage counts
    * every occurrence (the standard reimplementation: overlaps are
    * not deduplicated), and the dominant n-gram is selected by
    * coverage, not raw count — a pure max, so no cross-engine
    * tie-break ambiguity.
    *
    * Scale shape — NO shuffle at all (r20): every grouping in this
    * battery is WITHIN one document, so the (doc, n, gram) counts and
    * the per-(doc, n) top/dup coverages are computed by ONE compiled
    * pass per row ([[graft.functions.GopherRepCoverage]]) and the
    * whole operator fuses with the scan. The r13 relational form (one
    * posexplode + an 18-lead window + a corpus-gram-sized hash agg,
    * ~9 gram rows per word) was measured at sf10 by the r20 stage
    * probe: the explode + (doc, n, gram) aggregation was 43 s of the
    * 51.6 s query — shuffling 230M rows to group data that never
    * leaves its row. The kernel reproduces the relational form's gram
    * key (polynomial fold of word PolyHashes mod 1e9+7 — what the
    * DuckDB oracle replays), its max-over-occurrences length
    * semantics, and its null/empty renderings exactly (spec-pinned in
    * GopherRepCoverageSpec; dual-scale oracle green). Duplicate ids:
    * each row is now scored independently — the old form merged gram
    * counts across rows sharing (id, chars); ids are unique in every
    * declared corpus and the operator's contract. */
  def gopherRepetition(
      df: DataFrame, idCol: String, textCol: String,
      topThresholds: Map[Int, Double] =
        Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
      dupThresholds: Map[Int, Double] =
        Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13, 8 -> 0.12,
            9 -> 0.11, 10 -> 0.10)): DataFrame = {
    val ns = (topThresholds.keySet ++ dupThresholds.keySet).toSeq.sorted
    require(ns.nonEmpty && ns.min >= 2,
      s"n-gram sizes must be >= 2: $ns")
    val topNs = topThresholds.keys.toSeq.sorted
    val dupNs = dupThresholds.keys.toSeq.sorted
    val covCol = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.GopherRepCoverage(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          LlmOps.words(col(textCol))), topNs, dupNs))
    // NULL text → NULL struct → coalesce to 0, the exact rendering the
    // old left-join + na.fill(0) path produced for docs with no grams
    val perDoc = df.select(col(idCol),
        length(col(textCol)).cast("long").as("__chars"),
        covCol.as("__cov"))
      .select(Seq(col(idCol), col("__chars")) ++
        topNs.map(n =>
          coalesce(col(s"__cov.top_$n"), lit(0L)).as(s"__top_$n")) ++
        dupNs.map(n =>
          coalesce(col(s"__cov.dup_$n"), lit(0L)).as(s"__dup_$n")): _*)
    // fractions + flags on unrounded values
    val chars = col("__chars").cast("double")
    val fracs =
      topThresholds.keys.toSeq.sorted.map(n =>
        (s"top_${n}gram_frac", s"__top_$n", topThresholds(n))) ++
        dupThresholds.keys.toSeq.sorted.map(n =>
          (s"dup_${n}gram_frac", s"__dup_$n", dupThresholds(n)))
    val keep = fracs.map { case (_, c, th) => col(c) / chars <= th }
      .reduce(_ && _)
    // Rendered fraction: integer-exact HALF-UP rounding at 6 digits,
    // floor((2e6·cov + chars)/(2·chars)) / 1e6 in BIGINT — NOT
    // round(double, 6). The double form hit a real tie at sf1
    // (cov/chars = 0.0640625: Spark's BigDecimal-of-shortest-decimal
    // rounds the half UP to 0.064063, DuckDB rounds the binary double
    // DOWN to 0.064062). Exact integer division is tie-definite and
    // replays verbatim in SQL; the ≤1e7 quotient is an exact double, so
    // the final /1e6 is the same IEEE op in both engines. chars ≤ 0 or
    // NULL falls back to the old double form (NULL/NaN propagation
    // unchanged).
    def renderedFrac(c: String): Column =
      when(col("__chars") > 0,
        expr(s"CAST((2000000 * $c + __chars) DIV (2 * __chars) AS DOUBLE)")
          / lit(1e6))
        .otherwise(round(col(c) / chars, 6))
    // Coverage columns are already 0 for docs with no grams (kernel)
    // and 0 via coalesce for NULL text — whose NULL chars still makes
    // every fraction NULL in both engines, exactly as the old
    // left-join + scoped na.fill rendered it.
    perDoc
      .select(col(idCol) +:
        fracs.map { case (name, c, _) => renderedFrac(c).as(name) } :+
        coalesce(keep, lit(false)).as("keep"): _*)
  }
}

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * BinaryType columns with typed metadata. The decode itself is STUBBED
  * deterministically (no codec libraries in this build); everything
  * Spark-side — schema, batching, partitioning, metadata extraction —
  * is real. At scale the payload column rides parquet binary pages and
  * the decode stub's mapPartitions shape is exactly where a JNI/FFI
  * decoder batch would slot in. */
object MultimodalOps {

  /** Attach a binary payload column (here: UTF-8 bytes; in production:
    * the raw media bytes read from parquet/object storage). */
  def withPayload(srcCol: Column): Column = encode(srcCol, "UTF-8")

  /** Typed metadata off the payload without decoding: byte length, md5
    * content digest, and stub-decoded dimensions derived deterministically
    * from the byte length (stands in for a real header parse). */
  def payloadMeta(df: DataFrame, idCol: String, payload: Column): DataFrame = {
    val nBytes = length(payload).cast("long")
    df.select(col(idCol),
      nBytes.as("n_bytes"),
      md5(payload).as("digest"),
      (lit(64L) + nBytes % 960L).as("width"),
      (lit(64L) + (nBytes * 31L) % 960L).as("height"),
      (lit(1L) + nBytes % 16L).as("frames"))
  }

  /** Decoded frame sample (STUB): partition-batched decode returning a
    * fixed-shape struct per row — the real decoder would replace
    * `fakeDecode` only; the Spark plumbing (mapPartitions batching,
    * schema, row shape) is what this exercises. Deterministic: "pixels"
    * are a folded byte signature of the payload. */
  def decodeFramesStub(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("signature", LongType)))
    def fakeDecode(bytes: Array[Byte]): (Int, Int, Long) = {
      val sig = bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
      (64 + bytes.length % 960, 64 + (bytes.length * 31) % 960, sig)
    }
    val rdd = df.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions { rows =>
        // one decoder instance per partition; rows stream through it
        rows.map { r =>
          val (w, h, sig) = fakeDecode(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), w, h, sig)
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Frame sampling WITHOUT decode: pick `k` uniformly-strided frame
    * indices out of the payload's (stub-derived) frame count — the
    * standard "sample N frames per video" preprocessing step. Pure
    * codegen'd column arithmetic (sequence/transform/explode), so a
    * 100 TB corpus plans its sampling before any decoder runs; the
    * sampled (id, frame_index) list is what a decode stage would then
    * consume. Short payloads (fewer frames than `k`) dedup to their
    * full frame range. */
  def frameSample(df: DataFrame, idCol: String, payload: Column, k: Int): DataFrame = {
    require(k >= 1, s"frame sample count must be >= 1: $k")
    val n = lit(1L) + length(payload).cast("long") % 16L
    val idxs = array_distinct(transform(sequence(lit(0), lit(k - 1)),
      j => floor(j * n / k).cast("long")))
    df.select(col(idCol), n.as("n_frames"), explode(idxs).as("frame_index"))
  }

  /** Resize (STUB): the mapPartitions decode-transform-encode shape with
    * a deterministic fake kernel — target dims pass through, the source
    * dims come from the stub header parse, and the "resized" signature
    * folds the payload signature with the target box. A real image
    * library replaces `fakeResize` only; batching, schema and row shape
    * are the production plumbing. */
  def resizeFramesStub(
      df: DataFrame, idCol: String, payloadCol: String,
      targetW: Int, targetH: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("src_width", IntegerType),
      StructField("src_height", IntegerType),
      StructField("dst_width", IntegerType),
      StructField("dst_height", IntegerType),
      StructField("resized_signature", LongType)))
    def fakeResize(bytes: Array[Byte]): (Int, Int, Long) = {
      val sig = bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
      val srcW = 64 + bytes.length % 960
      val srcH = 64 + (bytes.length * 31) % 960
      (srcW, srcH, (sig * 1000003L + targetW * 31L + targetH) % 1000000007L)
    }
    val rdd = df.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val (sw, sh, sig) = fakeResize(r.getAs[Array[Byte]](1))
          Row(r.getLong(0), sw, sh, targetW, targetH, sig)
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Perceptual fingerprint of an opaque binary payload — a 60-bit
    * blocked-byte-histogram code in PURE INTEGER ARITHMETIC, the
    * multimodal analogue of aHash/blockhash pooled over the 1-D byte
    * stream (a real image pipeline would pool decoded luma blocks; the
    * zero-egress build pools raw bytes, which has the same robustness
    * law: a local edit moves ONE block's mean slightly, so
    * near-identical payloads land within a few bits). Bit b (b ∈
    * 0..59) is 1 iff the mean byte value of stream block b — block of
    * byte i = ⌊i/4⌋ mod 60, FIXED 4-byte cells folded over the 60
    * bits, NOT length-scaled cells: scaling the cell size by the
    * payload length would re-bin every byte when a trailing edit
    * changes n, flipping most bits between two prefix-identical
    * payloads (a fixed raster, like an image's, keeps aligned content
    * in aligned cells) — exceeds the whole payload's mean, compared
    * integer-exactly as blockSum·n > totalSum·blockCount with the
    * products in decimal(38,0) (no float division anywhere; BIGINT
    * products would overflow at ~1.5 GB payloads, and the DuckDB
    * oracle multiplies in HUGEINT). Byte values come off the hex rendering of the
    * payload (two digits per byte via a 16-char index lookup): every
    * primitive — lower(hex(..)), substring, instr — replays verbatim
    * in any SQL engine, unlike a raw byte accessor. Plan: split the
    * hex string into per-byte cells, posexplode, two keyed aggs
    * ((id, block) sums, then the id-partitioned totals window over ≤60
    * block rows per doc) — linear in payload bytes, shuffles only on
    * the id. Empty payloads carry no information and are dropped
    * (documented: a zero-byte file is dedup'd by exact digest
    * upstream, not perceptually). Output: (idCol, pcode). */
  def payloadFingerprint(
      df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hexDigits = "0123456789abcdef"
    // "(?<=\\G..)" splits the hex string after every 2nd char — one
    // cell per payload byte, so exploded rows carry 2 chars, not the
    // whole hex string.
    val cells = split(lower(hex(col(payloadCol))), "(?<=\\G..)")
    val bytes = df
      // length() on the raw payload, not size() of the split: Java
      // "".split(..) yields [""], which would fabricate a byte for a
      // zero-length payload instead of dropping it
      .filter(length(col(payloadCol)) > 0)
      .select(col(idCol), cells.as("__hx"))
      .select(col(idCol), posexplode(col("__hx")).as(Seq("__i", "__hh")))
      // Spark's split defaults to limit = -1, which KEEPS the trailing
      // empty string the zero-width (?<=\G..) match produces at
      // end-of-input — a phantom 0-value "byte" that would drag the
      // last cell's mean; keep only real 2-digit cells
      .filter(length(col("__hh")) === 2)
      .withColumn("__v",
        (expr(s"instr('$hexDigits', substring(__hh, 1, 1))") - 1) * 16 +
          expr(s"instr('$hexDigits', substring(__hh, 2, 1))") - 1)
      .withColumn("__b", expr("(CAST(__i AS BIGINT) DIV 4) % 60"))
    val perBlock = bytes.groupBy(col(idCol), col("__b"))
      .agg(sum("__v").as("__bs"), count(lit(1)).as("__bc"))
    val byDoc = Window.partitionBy(idCol)
    perBlock
      .withColumn("__ts", sum("__bs").over(byDoc))
      .withColumn("__tc", sum("__bc").over(byDoc))
      .withColumn("__bit",
        // decimal(19,0) × decimal(19,0) → decimal(38,0): the products
        // are ≈ 4.25·n² and overflow BIGINT for payloads ≳ 1.5 GB
        // (2^63 < 4.25·n² once n > ~1.47e9); 128-bit decimal matches
        // the DuckDB oracle's HUGEINT up to any byte count a BIGINT
        // length can express
        when(col("__bs").cast("decimal(19,0)") *
            col("__tc").cast("decimal(19,0)") >
            col("__ts").cast("decimal(19,0)") *
            col("__bc").cast("decimal(19,0)"), 1L)
          .otherwise(0L))
      .groupBy(col(idCol))
      .agg(sum(expr("__bit * shiftleft(CAST(1 AS BIGINT), CAST(__b AS INT))"))
        .as("pcode"))
  }

  /** Multimodal near-duplicate pairs: [[payloadFingerprint]]'s stable
    * 60-bit perceptual code + the SAME corpus-scaled banded Hamming
    * search the text path uses ([[LlmOps.bandedHammingPairs]], slice
    * width [[LlmOps.stableBandWidth]](n) so per-band buckets ≈ n/2,
    * bands = 60/width ≥ 4) — pigeonhole-EXACT for maxHamming ≤ 3 at
    * every corpus size, and the predicate "hamming ≤ maxHamming of 60
    * bits" is a stable property of the two payloads. One cheap count
    * sizes the search; pass `n` to skip it when the corpus size is
    * already known. Output: (doc_a, doc_b, hamming). */
  /** [[payloadFingerprint]] as a NATIVE scalar column — the production
    * path: one codegen'd pass over the BinaryType bytes per row (see
    * graft.functions.PayloadCode), bit-identical to the hex-rendering
    * aggregate form above, which stays as the DuckDB-replayable
    * verification twin (spec-pinned equal in LlmOpsSpec). A
    * zero-length payload codes to 0L — filter empties upstream exactly
    * as the hex form does. */
  def payloadCode(payload: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PayloadCode(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(payload)))

  def payloadNearDupPairs(
      df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, n: Long = -1L): DataFrame = {
    require(maxHamming <= 3,
      s"stable banded search is exact only for maxHamming <= 3: $maxHamming")
    val width = LlmOps.stableBandWidth(if (n > 0) n else df.count())
    // the native expression: the scan IS the fingerprint pass (the hex
    // twin would explode ~4 bytes of string per payload byte through
    // two keyed aggs — right for the oracle, wrong for 100 TB of media)
    val codes = df.filter(length(col(payloadCol)) > 0)
      .select(col(idCol), payloadCode(col(payloadCol)).as("pcode"))
    LlmOps.bandedHammingPairs(codes, idCol, maxHamming, width, 60 / width,
      codeCol = "pcode")
  }

  /** INCREMENTAL multimodal near-dup — dedup a NEW batch of payloads
    * against an existing corpus WITHOUT re-pairing history against
    * itself: the production shape for "ingest today's crawl against
    * the 100 TB media store" (the text side has had this since LD11/
    * LD18; this is the multimodal sibling the r15 verdict asked for).
    * The historical side reduces to a BAND REGISTRY of (band, slice)
    * keys over the stable 60-bit perceptual fingerprint — at scale a
    * stored table bucketed by (band, slice) and maintained
    * append-only, so the probe join is NEW-BATCH-sized and a new
    * payload colliding with history in zero bands short-circuits as
    * definitely-clean with no further work. Pigeonhole EXACTNESS
    * carries over from [[payloadNearDupPairs]]: bands = 60/width ≥ 4 >
    * maxHamming ≤ 3, so a new payload within the threshold of ANY
    * historical payload agrees with it on a whole band — unlike the
    * text path's MinHash registry ([[LlmOps.incrementalNearDedup]]),
    * recall is 1.0, not LSH-probabilistic. Collisions exact-verify
    * (popcount ≤ maxHamming) before anything drops. The band geometry
    * is sized by the HISTORICAL corpus (the registry defines the
    * bucket space; pass `histN` when known to keep the plan
    * count-free). Empty payloads carry no perceptual information and
    * are always kept (exact-digest dedup owns them). Returns the kept
    * rows of `newDf`, all columns. */
  def payloadIncrementalNearDup(
      newDf: DataFrame, hist: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, histN: Long = -1L): DataFrame = {
    require(maxHamming <= 3,
      s"stable banded search is exact only for maxHamming <= 3: $maxHamming")
    val width = LlmOps.stableBandWidth(if (histN > 0) histN else hist.count())
    val bands = 60 / width
    val mask = (1L << width) - 1
    def banded(df: DataFrame, side: String): DataFrame =
      df.filter(length(col(payloadCol)) > 0)
        .select(col(idCol).as(s"__${side}id"),
          payloadCode(col(payloadCol)).as(s"__${side}c"))
        .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
        .withColumn("slice",
          expr(s"shiftright(__${side}c, band * $width) & $mask"))
    val dupNew = banded(newDf, "n")
      .join(banded(hist, "h"), Seq("band", "slice"))
      .filter(bit_count(expr("__nc ^ __hc")) <= maxHamming)
      .select(col("__nid").as(idCol)).distinct()
    newDf.join(dupNew, Seq(idCol), "left_anti")
  }

  /** CROSS-MODAL duplicate groups: a document duplicates another if
    * EITHER its text near-matches (stable 60-bit SimHash, hamming ≤
    * maxHamming — [[LlmOps.simHashPairsAuto]]) OR its media payload
    * near-matches (perceptual fingerprint, hamming ≤ maxHamming —
    * [[payloadNearDupPairs]]); the UNION near-dup graph's connected
    * components canonicalize the corpus across modalities, collapsing
    * text-identical pages carrying different media, media-identical
    * posts with paraphrased captions, and chains of either into one
    * group. Both edge generators are the corpus-scaled banded searches
    * (pigeonhole-exact, never all-pairs; one shared sizing count), and
    * the CC is [[LlmOps.dedupGroups]]'s checkpoint-bounded
    * pointer-jumping loop — the union graph only adds edges, never a
    * new algorithm. Output: (idCol, canonical_id = min id of the
    * cross-modal component; docs in no pair stay their own
    * canonical). */
  def crossModalDupGroups(
      df: DataFrame, idCol: String, textCol: String, payloadCol: String,
      maxHamming: Int = 3, n: Long = -1L): DataFrame = {
    val nn = if (n > 0) n else df.count()
    val textPairs = LlmOps.simHashPairsAuto(
      df, idCol, textCol, maxHamming = maxHamming, n = nn)
    val payloadPairs = payloadNearDupPairs(
      df, idCol, payloadCol, maxHamming, n = nn)
    LlmOps.dedupGroups(df, idCol,
      textPairs.select("doc_a", "doc_b")
        .unionByName(payloadPairs.select("doc_a", "doc_b")))
  }
}
