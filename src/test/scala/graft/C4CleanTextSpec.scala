package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.operators.TextOps

/** Native C4 cleaning kernel ([[graft.functions.C4CleanText]]):
  * bit-equality with the composed relational form it replaced
  * (filter(sequence)/exists(slice)/transform+array_join lambdas) —
  * the form the DuckDB oracle replays — across blacklist hits,
  * segment-boundary word counts, empty words from doubled spaces,
  * unicode (incl. context-sensitive lowercasing), and null text. */
class C4CleanTextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The pre-r19 composed form, verbatim. */
  private def composed(textCol: Column, window: Int, minSegWords: Int,
      blacklist: Seq[String]): Column = {
    val ws = split(textCol, " ")
    val wsl = split(lower(textCol), " ")
    val blk = array(blacklist.map(lit): _*)
    val n = size(ws).cast("long")
    val nseg = ceil(n / lit(window.toDouble)).cast("long")
    val keptIdx = filter(sequence(lit(0L), nseg - 1L), i =>
      least(lit(window.toLong), n - i * window) >= minSegWords &&
        !exists(slice(wsl, (i * window + 1L).cast("int"), lit(window)),
          w => array_contains(blk, w)))
    struct(
      nseg.as("n_total"),
      size(keptIdx).cast("long").as("n_kept"),
      array_join(transform(keptIdx, i =>
        array_join(slice(ws, (i * window + 1L).cast("int"),
          lit(window)), " ")), " ").as("text_clean"))
  }

  private def kernel(textCol: Column, window: Int, minSegWords: Int,
      blacklist: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.C4CleanText(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol),
        window, minSegWords, blacklist))

  private val Blk = Seq("lorem", "ipsum", "javascript", "{", "}")

  private def check(texts: Seq[String], window: Int = 10,
      minSegWords: Int = 5, blacklist: Seq[String] = Blk): Unit = {
    val df = texts.map(Tuple1(_)).toDF("text")
    val out = df.select(
      kernel(col("text"), window, minSegWords, blacklist).as("k"),
      composed(col("text"), window, minSegWords, blacklist).as("c")).collect()
    out.zip(texts).foreach { case (r, t) =>
      assert(r.getStruct(0) === r.getStruct(1), s"text=[$t]")
    }
  }

  test("matches the composed form on crafted segment/blacklist cases") {
    check(Seq(
      "",
      "one two three",
      ("w " * 100).trim,                          // clean 10 segments
      ("w " * 9) + "lorem " + ("w " * 90),        // blacklist kills seg 1
      ("w " * 95).trim,                           // short tail segment
      ("w " * 94) + "LOREM",                      // case-insensitive hit
      "a  b   c " + ("w " * 60),                  // empty words (2x spaces)
      "curly { brace " + ("w " * 40),             // symbol blacklist
      ("ünï こん " * 30).trim,                     // unicode words
      "ΑΣ ΒΣ ΓΣ ΔΣ ΕΣ ΖΣ ΗΣ ΘΣ ΙΣ ΚΣ " * 3,      // final-sigma lowering
      ("İstanbul " * 50).trim,                    // Turkish dotted I
      " leading and trailing "))
  }

  test("lower-cases the same under a Turkish default locale as under " +
    "English, and as Spark's lower() does under English, for capitals " +
    "newer than the JDK's Unicode tables too") {
    val pad = ("w " * 12).trim
    // non-ASCII texts, so the kernel never takes the ASCII fast path;
    // U+A7C0 (Unicode 14) lowers to U+A7C1 in ICU, not in JDK 17. Only
    // the English lowercase forms are blacklisted, except for `ıi` and
    // `istanbul`, which only Turkish casing produces.
    val texts = Seq(s"café LINK $pad", s"café link $pad",
      s"café \uA7C0x $pad", s"İSTANBUL Iİ $pad")
    val blk = Seq("link", "\uA7C1x", "istanbul", "ıi")
    def underLocale[A](locale: java.util.Locale)(f: => A): A = {
      val saved = java.util.Locale.getDefault
      java.util.Locale.setDefault(locale)
      try f finally java.util.Locale.setDefault(saved)
    }
    def kernelOut: Seq[Any] = texts.toDF("text")
      .select(kernel(col("text"), 4, 1, blk)).collect().toSeq.map(_.get(0))
    val en = underLocale(java.util.Locale.ENGLISH)(kernelOut)
    assert(underLocale(new java.util.Locale("tr"))(kernelOut) === en)
    underLocale(java.util.Locale.ENGLISH)(
      check(texts, window = 4, minSegWords = 1, blacklist = blk))
  }

  test("matches the composed form on random texts (property, fixed seed)") {
    val rng = new Random(19L)
    val vocab = Seq("alpha", "beta", "Gamma", "DELTA", "", "lorem",
      "ipsum", "{", "x", "longerword", "ünïcödé", "a😀b")
    val texts = Seq.fill(300) {
      Seq.fill(rng.nextInt(40))(vocab(rng.nextInt(vocab.size)))
        .mkString(" ")
    }
    check(texts)
    check(texts, window = 4, minSegWords = 2)
    check(texts, window = 1, minSegWords = 1)
  }

  test("null text yields a null struct (composed columns were null too)") {
    val df = Seq(Some("a b c"), None).toDF("text")
    val rows = df.select(kernel(col("text"), 10, 5, Blk)).collect()
    assert(!rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
  }

  test("kernel stays inside WholeStageCodegen") {
    val plan = spark.range(10)
      .select(concat(lit("a b c d e f "), col("id")).as("text"))
      .select(kernel(col("text"), 3, 1, Blk).as("c"))
      .filter(col("c.n_kept") >= 0)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.filter(_.contains("graft_c4_clean"))
      .forall(_.contains("*(")), s"kernel outside codegen:\n$plan")
  }
}
