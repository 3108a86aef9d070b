package graft.functions

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_lower`: Spark's `lower()` on UTF8_BINARY strings under a
  * JVM locale other than `tr`, `az` or `lt`, bit for bit, without going through
  * `CollationAwareUTF8String`, and the same under every locale.
  *
  * Spark 4.1's `lower()` (ICU case mappings on, the default) calls
  * `CollationAwareUTF8String.toLowerCase`: all-ASCII input is
  * `toLowerCaseAscii`, anything else is ICU `UCharacter.toLowerCase` of
  * the valid-UTF-8 form. That class's static initializer also builds a
  * title-case table by running all 1,114,112 code points through ICU
  * `toTitleCase` — 1.41–1.47 s of one task thread in a fresh JVM, paid
  * by the first query that lower-cases anything, though lower-casing
  * never reads the table. This kernel does the same two steps itself,
  * so a run that lower-cases never loads the class.
  *
  * ICU's one-argument `toLowerCase` follows the JVM's default locale,
  * so under `tr`, `az` or `lt` Spark lower-cases `I` to dotless `ı`.
  * This kernel uses ICU's root locale, whose rules are the ones every
  * other locale gets: its output does not depend on the host, and
  * matches the DuckDB oracles, which lower-case with no locale.
  *
  * Not `UTF8String.toLowerCase`: that is the JDK's `String.toLowerCase()`,
  * whose Unicode tables are older than ICU's (JDK 17 leaves U+A7C0 and
  * the other Unicode 14+ capitals as they are; ICU and Spark lower them). */
case class GraftLower(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  // non-string input is cast to string, as `lower()` does
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_lower"

  override protected def nullSafeEval(input: Any): Any =
    GraftLower.lowerUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftLower.lowerUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): GraftLower =
    copy(child = newChild)
}

object GraftLower {

  /** `lower(c)` with Spark's semantics under a locale other than `tr`,
    * `az` or `lt` (see the class doc). */
  def lower(c: Column): Column =
    ColumnBridge.column(GraftLower(ColumnBridge.expression(c)))

  /** Called from both the interpreted path and generated code. */
  def lowerUtf8(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(ULocale.ROOT, s.toValidString))
}
