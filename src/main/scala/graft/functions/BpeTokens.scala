package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for byte-pair-encoding a single word
  * against a FIXED merge table — the real-tokenizer upgrade of the
  * LT3 whitespace/regex token-count estimate.
  *
  * Algorithm (priority-queue BPE, the sentencepiece encode order):
  * start from the word's code points as symbols; repeatedly merge the
  * single adjacent pair with the minimum (rank, position) — leftmost
  * occurrence of the best-ranked pair — until no adjacent pair is in
  * the table. Each step removes one symbol, so the loop is bounded by
  * the word length; the scan per step is O(len) hash lookups. This
  * exact step order is what the DuckDB oracle replays as a recursive
  * CTE, so the two engines agree token-for-token.
  *
  * The merge table is a constructor field (driver-side vocabulary,
  * NOT a per-row input): it ships to executors once inside the
  * serialized expression and the generated code reaches it through a
  * codegen reference object — per row there is zero table traffic,
  * exactly like a broadcast model table. Returns the symbol array
  * (token count = size). */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe"

  @transient private lazy val table = new BpeTokens.Table(merges)

  override protected def nullSafeEval(input: Any): Any =
    table.encode(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTokens.Table].getName)
    defineCodeGen(ctx, ev, c => s"$tableRef.encode($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

/** One BPE TRAINING step applied to a symbol array: merge every
  * left-to-right non-overlapping occurrence of the adjacent pair
  * (a, b) in a single pass — the "apply the newly learned merge to
  * the vocabulary" half of each training round (the other half, the
  * weighted pair-count argmax, is a plain groupBy). Scan semantics:
  * i=0; if s[i]=a and s[i+1]=b emit a||b and skip 2, else emit s[i]
  * and skip 1 — equivalently, within each run of consecutive matches
  * only even offsets merge, which is exactly what the DuckDB oracle
  * replays with a run-parity window (llm_bpe_train). The pair is a
  * constructor field like [[BpeTokens]]' table: driver-side constants,
  * zero per-row traffic. Null array or null element → null.
  * CodegenFallback is fine here: the expression runs on the DISTINCT-
  * WORD (vocabulary) frame during training, never on a corpus-sized
  * path. */
case class BpeApplyMerge(child: Expression, a: String, b: String)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_apply requires ARRAY<STRING> input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val ua = UTF8String.fromString(a)
  @transient private lazy val ub = UTF8String.fromString(b)

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[ArrayData]
    val n = s.numElements()
    var i = 0
    while (i < n) { if (s.isNullAt(i)) return null; i += 1 }
    val out = new java.util.ArrayList[Any](n)
    i = 0
    while (i < n) {
      if (i < n - 1 && s.getUTF8String(i).equals(ua) &&
          s.getUTF8String(i + 1).equals(ub)) {
        out.add(UTF8String.concat(ua, ub))
        i += 2
      } else {
        out.add(s.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeApplyMerge = copy(child = newChild)
}

/** [[BpeTokens]]' encode loop, emitting VOCABULARY IDS instead of
  * symbol strings — the step a training pipeline actually ships: the
  * per-word symbol segmentation mapped through a fixed (symbol → id)
  * table. Both tables are constructor fields (driver-side vocabulary,
  * zero per-row traffic, reached by generated code through reference
  * objects). Symbols outside the vocabulary map to id 0 (UNK) — with a
  * vocabulary built by [[graft.operators.TextOps.bpeVocab]] over the
  * same corpus that only happens for out-of-corpus characters.
  * Returns ARRAY<INT>. */
case class BpeEncodeIds(child: Expression, merges: Seq[(String, String)],
    vocab: Map[String, Int])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_ids requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_bpe_ids"

  @transient private lazy val table = new BpeTokens.IdTable(merges, vocab)

  override protected def nullSafeEval(input: Any): Any =
    table.encodeIds(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeIdTable", table,
      classOf[BpeTokens.IdTable].getName)
    defineCodeGen(ctx, ev, c => s"$tableRef.encodeIds($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeIds = copy(child = newChild)
}

object BpeTokens {

  /** Entries per (thread, table) in the word-segmentation memo: word
    * frequency is Zipf, so a bounded LRU holds effectively the whole
    * useful head (≤ a few MB/thread at typical word/token sizes). */
  private[graft] val MemoCap = 1 << 16

  /** Words longer than this bypass the memo entirely (computed, never
    * stored): entry count alone does not bound BYTES, and long words
    * are rarely repeated — the cap makes the per-thread memo's worst
    * case ~64k entries × ≤64 chars (+ the segmentation array) ≈ a few
    * MB regardless of corpus shape (r18 advice item). */
  private[graft] val MemoMaxWordChars = 64

  private def newMemo[V](): java.util.LinkedHashMap[String, V] =
    new java.util.LinkedHashMap[String, V](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, V]): Boolean = size() > MemoCap
    }

  /** One merge table + a PER-THREAD bounded LRU memo of word →
    * segmentation (r18, a `curriculum_stages` probe fix): the merge
    * loop is O(len²) hash probes with a string allocation per probe,
    * and corpora repeat words with Zipf mass — a memo hit skips the
    * loop entirely while returning the IDENTICAL (immutable, shared)
    * array, so outputs are bit-equal to the unmemoized kernel by
    * construction. The holder is the codegen reference object: one
    * instance per task after deserialization, and the ThreadLocal
    * makes even exotic instance sharing safe. Serializable because
    * reference objects ship inside the serialized plan; the table and
    * memo rebuild lazily on the executor. */
  final class Table(merges: Seq[(String, String)]) extends Serializable {
    @transient private lazy val ranks = buildRanks(merges)
    @transient private lazy val memo:
        ThreadLocal[java.util.LinkedHashMap[String, ArrayData]] =
      ThreadLocal.withInitial(() => newMemo[ArrayData]())
    def encode(word: UTF8String): ArrayData = {
      val key = word.toString
      if (key.length > MemoMaxWordChars) return encodeString(key, ranks)
      val m = memo.get()
      val hit = m.get(key)
      if (hit != null) hit
      else {
        val r = encodeString(key, ranks)
        m.put(key, r)
        r
      }
    }
  }

  /** [[Table]]'s id-emitting twin: memoizes word → vocabulary-id array
    * (the encode loop AND the symbol→id mapping in one hit). */
  final class IdTable(merges: Seq[(String, String)],
      vocab: Map[String, Int]) extends Serializable {
    @transient private lazy val ranks = buildRanks(merges)
    @transient private lazy val ids: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](vocab.size * 2)
      vocab.foreach { case (s, i) => m.putIfAbsent(s, Integer.valueOf(i)) }
      m
    }
    @transient private lazy val memo:
        ThreadLocal[java.util.LinkedHashMap[String, ArrayData]] =
      ThreadLocal.withInitial(() => newMemo[ArrayData]())
    def encodeIds(word: UTF8String): ArrayData = {
      val key = word.toString
      val m = memo.get()
      val hit = if (key.length > MemoMaxWordChars) null else m.get(key)
      if (hit != null) hit
      else {
        val syms = encodeString(key, ranks)
        val n = syms.numElements()
        val out = new Array[Int](n)
        var i = 0
        while (i < n) {
          val id = ids.get(syms.getUTF8String(i).toString)
          out(i) = if (id == null) 0 else id.intValue()
          i += 1
        }
        val r = new GenericArrayData(out)
        if (key.length <= MemoMaxWordChars) m.put(key, r)
        r
      }
    }
  }

  /** pair "a b" → 1-based rank in merge-list order (first = best). */
  private def buildRanks(
      merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(i + 1))
    }
    m
  }

  /** [[encode]] then map each symbol through the id table (absent →
    * 0 = UNK); static forwarder for generated code. */
  def encodeIds(word: UTF8String,
      ranks: java.util.HashMap[String, Integer],
      ids: java.util.HashMap[String, Integer]): ArrayData = {
    val syms = encode(word, ranks)
    val n = syms.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val id = ids.get(syms.getUTF8String(i).toString)
      out(i) = if (id == null) 0 else id.intValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The per-word merge loop (unmemoized; the memo twins above wrap
    * it — kept public as the spec-pinned ground truth). */
  def encode(word: UTF8String,
      ranks: java.util.HashMap[String, Integer]): ArrayData =
    encodeString(word.toString, ranks)

  private def encodeString(s: String,
      ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val syms = new java.util.ArrayList[String](s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      syms.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    var merging = true
    while (merging && syms.size > 1) {
      var bestJ = -1
      var bestR = Integer.MAX_VALUE
      var j = 0
      while (j < syms.size - 1) {
        val r = ranks.get(syms.get(j) + " " + syms.get(j + 1))
        // strict < keeps the LEFTMOST occurrence of the best rank
        if (r != null && r < bestR) { bestR = r; bestJ = j }
        j += 1
      }
      if (bestJ < 0) merging = false
      else {
        syms.set(bestJ, syms.get(bestJ) + syms.get(bestJ + 1))
        syms.remove(bestJ + 1)
      }
    }
    val out = new Array[Any](syms.size)
    var k = 0
    while (k < syms.size) {
      out(k) = UTF8String.fromString(syms.get(k))
      k += 1
    }
    new GenericArrayData(out)
  }
}
