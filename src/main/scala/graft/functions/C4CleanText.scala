package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the C4 segment-cleaning kernel
  * ([[graft.operators.TextOps.c4Clean]]'s per-row core): split the
  * text into consecutive non-overlapping `window`-word segments, keep
  * a segment iff it has ≥ `minSegWords` words and contains no
  * blacklisted lowercase token, and reassemble the survivors in order.
  *
  * Returns `struct(n_total BIGINT, n_kept BIGINT, text_clean STRING)`
  * — exactly the three values the relational form derived through
  * `filter(sequence(...))` / `exists(slice(...))` /
  * `transform + array_join(slice(...))` higher-order lambdas. Those
  * lambdas run INTERPRETED (HOFs are outside whole-stage codegen) and
  * every per-segment `slice` allocates a fresh array, so the composed
  * form paid ~2 interpreted passes + O(n/window) allocations per
  * document; this kernel is one compiled pass over the two word
  * arrays with a single output StringBuilder.
  *
  * Exact-parity contract with the composed form (spec-pinned in
  * C4CleanTextSpec, and carried end-to-end by the DuckDB oracle gate
  * on every rider query):
  *  - words = `split(text, " ")` semantics: Java regex split with
  *    limit −1 (trailing empty strings kept) — identical to Spark's
  *    StringSplit;
  *  - the blacklist is matched on `split(lower(text), " ")` with
  *    lower = [[GraftLower.lowerUtf8]] (Spark's `lower()` under a
  *    locale other than `tr`, `az` or `lt`: ICU root casing, whatever
  *    the JVM's default locale), computed on the WHOLE
  *    text before splitting — context-sensitive lowercasing (e.g. Greek
  *    final sigma) behaves identically;
  *  - the keep rule reads word counts from the ORIGINAL-case array
  *    and blacklist membership from the lowercase array, each sliced
  *    by its own bounds, exactly as the relational form did;
  *  - `n_total = ceil(n / window)` (exact for any real doc size),
  *    reassembly joins segment words and segments with single spaces
  *    (array_join semantics — empty words join as empty strings).
  * NULL text → NULL struct (null-intolerant unary), matching the
  * composed form's null-in-null-out columns. */
case class C4CleanText(
    child: Expression, window: Int, minSegWords: Int,
    blacklist: Seq[String]) extends UnaryExpression {
  require(window > 0, s"segment window must be positive: $window")
  require(minSegWords >= 1 && minSegWords <= window,
    s"minSegWords must be in [1, window]: $minSegWords")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_c4_clean requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_total", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))
  override def prettyName: String = "graft_c4_clean"

  @transient private lazy val kernel =
    new C4CleanText.Kernel(window, minSegWords, blacklist)

  override protected def nullSafeEval(input: Any): Any =
    kernel.clean(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("c4Kernel", kernel,
      classOf[C4CleanText.Kernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.clean($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): C4CleanText = copy(child = newChild)
}

object C4CleanText {
  final class Kernel(window: Int, minSegWords: Int,
      blacklist: Seq[String]) extends Serializable {
    @transient private lazy val blk: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](blacklist.size * 2)
      blacklist.foreach(s.add)
      s
    }

    def clean(text: UTF8String): InternalRow = {
      val s = text.toString
      // Spark lower(), whole text first
      val low = GraftLower.lowerUtf8(text).toString
      val ws = s.split(" ", -1)
      val wsl = low.split(" ", -1)
      val n = ws.length.toLong
      val nseg = ((n + window - 1) / window).toInt
      val sb = new java.lang.StringBuilder(s.length)
      var kept = 0L
      var i = 0
      while (i < nseg) {
        val from = i * window
        // word count from the ORIGINAL-case array (least(window, n-...))
        val segWords = math.min(window.toLong, n - from)
        var keep = segWords >= minSegWords
        if (keep) {
          // blacklist over the LOWERCASE array, sliced by ITS bounds
          val end = math.min(from + window, wsl.length)
          var j = from
          while (keep && j < end) {
            if (blk.contains(wsl(j))) keep = false
            j += 1
          }
        }
        if (keep) {
          if (kept > 0) sb.append(' ')
          val end = math.min(from + window, ws.length)
          var j = from
          while (j < end) {
            if (j > from) sb.append(' ')
            sb.append(ws(j))
            j += 1
          }
          kept += 1
        }
        i += 1
      }
      InternalRow(nseg.toLong, kept, UTF8String.fromString(sb.toString))
    }
  }
}
