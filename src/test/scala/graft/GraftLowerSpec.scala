package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftLower

/** `graft_lower` ([[graft.functions.GraftLower]]) against Spark's own
  * `lower()` through a session, byte for byte, on the interpreted path
  * (a local relation is folded by the optimizer) and in generated code. */
class GraftLowerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Texts: Seq[Option[String]] = Seq(
    Some("Plain ASCII, With CAPS 123"),
    Some("İSTANBUL"),          // dotted capital I
    Some("ΟΔΟΣ ΟΔΟΣ."),        // final sigma
    Some("ẞ STRASSE"),         // capital sharp s
    Some("𐐀𐐁 deseret"),       // non-BMP capitals
    Some("Ꟁ Ⱟ"),     // Unicode 14 capitals
    Some(""),
    None)

  /** Each row's two results as bytes; `invalid` adds rows whose bytes are
    * not valid UTF-8 (a binary cast to string keeps them as they are). */
  private def both(withCodegen: Boolean): Seq[(Seq[Byte], Seq[Byte])] = {
    val valid = Texts.toDF("t")
    val invalid = Seq(Array[Byte](-1, 65, 66), Array[Byte](67, -64, -81, 90))
      .toDF("b").select(col("b").cast("string").as("t"))
    val df0 = valid.union(invalid)
    val df = if (withCodegen) df0.repartition(2) else df0
    def bytes(c: Column): Column = c.cast("binary")
    df.select(bytes(GraftLower.lower(col("t"))), bytes(lower(col("t"))))
      .collect().toSeq.map(r =>
        (Option(r.getAs[Array[Byte]](0)).map(_.toSeq).orNull,
          Option(r.getAs[Array[Byte]](1)).map(_.toSeq).orNull))
  }

  test("equals Spark's lower() byte for byte, interpreted") {
    val out = both(withCodegen = false)
    assert(out.size === Texts.size + 2)
    out.foreach { case (g, s) => assert(g === s) }
    assert(out.count(_._1 == null) === 1, "null in, null out")
  }

  test("equals Spark's lower() byte for byte, in generated code") {
    both(withCodegen = true).foreach { case (g, s) => assert(g === s) }
  }

  test("casts non-string input to string, as lower() does") {
    val r = Seq(42L).toDF("n")
      .select(GraftLower.lower(col("n")), lower(col("n"))).head()
    assert(r.getString(0) === "42" && r.getString(0) === r.getString(1))
  }

  test("lower-cases under a Turkish default locale as under English") {
    // non-ASCII texts, so none takes the ASCII fast path
    val texts = Seq("é I", "İ", "é LINK")
    def lowered(locale: java.util.Locale): Seq[String] = {
      val saved = java.util.Locale.getDefault
      java.util.Locale.setDefault(locale)
      try texts.map(t => GraftLower.lowerUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toString)
      finally java.util.Locale.setDefault(saved)
    }
    val en = lowered(java.util.Locale.ENGLISH)
    assert(en === Seq("é i", "i\u0307", "é link"))
    assert(lowered(new java.util.Locale("tr")) === en)
  }
}
