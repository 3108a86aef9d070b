package graft.queries

/** Shared DuckDB renderings of the engine's deterministic primitives.
  * SINGLE SOURCE OF TRUTH for oracle-side hashing/folding: these must
  * stay in lockstep with graft.functions.PolyHash and LlmOps' fold
  * order — a change to one side without the other silently breaks the
  * harness hash-compare. */
object DuckSql {

  /** DuckDB rendering of LlmOps.strHash / PolyHash (char-fold polynomial
    * mod 1e9+7 over code points). */
  def duckHash(expr: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  /** DuckDB rendering of LlmOps.mix32 (degski/Wang full-avalanche
    * 32-bit finalizer): two rounds of `x ^= x>>16; x *= 0x45d9f3b`
    * mod 2^32, plus the final xor-fold — staged as CTEs so the input
    * expression is evaluated once per row, not once per textual
    * reference. Shift-right of a non-negative value renders as
    * integer division by 65536 — identical in both engines. Produces
    * a CTE `$out($keyCols, k)` reading `$hCol` from `$src` (the `out`
    * name parameterizes the chain so one query can mix several
    * independent lanes — e.g. the two-lane wide SimHash code). */
  def duckMix32Ctes(src: String, keyCols: String, hCol: String,
      out: String = "mx"): String =
    s"""__${out}1 AS (
       |  SELECT $keyCols,
       |    (xor($hCol, $hCol // 65536) * 73244475) % 4294967296 AS __x
       |  FROM $src
       |),
       |__${out}2 AS (
       |  SELECT $keyCols,
       |    (xor(__x, __x // 65536) * 73244475) % 4294967296 AS __x
       |  FROM __${out}1
       |),
       |$out AS (SELECT $keyCols, xor(__x, __x // 65536) AS k FROM __${out}2)"""
      .stripMargin

  /** `$out(doc_id, s)`: every `n`-word shingle of `$src(doc_id, ws)`,
    * the words joined by single spaces (LlmOps.shingleHashes' input). */
  def duckWordShingles(out: String, src: String, n: Int = 2): String = {
    val gram = (0 until n).map(k => if (k == 0) "ws[i]" else s"ws[i+$k]")
      .mkString(" || ' ' || ")
    s"""$out AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-${n - 1}),
       |    i -> $gram)) AS s
       |  FROM $src
       |)""".stripMargin
  }

  /** `words(doc_id, ws)` → `shingles` → `hashed(doc_id, h)`: the
    * distinct hashes of each document's `n`-word shingles
    * (LlmOps.shingleHashes), over the `documents` rows `where` keeps. */
  def duckShingleHashes(where: String = "", n: Int = 2): String =
    s"""words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents $where
       |),
       |${duckWordShingles("shingles", "words", n)},
       |hashed AS (
       |  SELECT DISTINCT doc_id, ${duckHash("s")} AS h FROM shingles
       |)""".stripMargin

  /** The stable 60-bit wide-SimHash CTE chain (two avalanched mix32
    * lanes; the llm_simhash_pairs and cross-modal oracles' text code)
    * over `documents`, ending in `$out(doc_id, simhash)`. */
  def duckSimHash60Ctes(out: String): String =
    s"""__sh_toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |  FROM documents
       |),
       |__sh_l1 AS (SELECT doc_id, ${duckHash("w")} AS h FROM __sh_toks),
       |__sh_l2 AS (SELECT doc_id, ${duckHash("'g2:' || w")} AS h FROM __sh_toks),
       |${duckMix32Ctes("__sh_l1", "doc_id", "h", "__sh_mxa")},
       |${duckMix32Ctes("__sh_l2", "doc_id", "h", "__sh_mxb")},
       |__sh_lanes AS (
       |  SELECT doc_id, k, 0 AS lane FROM __sh_mxa
       |  UNION ALL
       |  SELECT doc_id, k, 1 AS lane FROM __sh_mxb
       |),
       |__sh_bits AS (
       |  SELECT doc_id, lane * 32 + lb AS b,
       |         CASE WHEN sum(((k >> lb) & 1) * 2 - 1) > 0
       |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
       |  FROM __sh_lanes, generate_series(0, 31) g(lb)
       |  WHERE lane * 32 + lb < 60
       |  GROUP BY doc_id, lane * 32 + lb
       |),
       |$out AS (
       |  SELECT doc_id,
       |    CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(b AS INT))) AS BIGINT)
       |      AS simhash
       |  FROM __sh_bits GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB rendering of LlmOps.minHashCandidatePairs' signature and
    * band keys over `$hashed(doc_id, h)`: 8 seeded permutation minima
    * `mh(doc_id, m0..m7)`, then 4 bands of 2 rows hashed into
    * `bands(doc_id, band, bh)`. */
  def duckMinHashBands(hashed: String = "hashed"): String =
    s"""mh AS (
       |  SELECT doc_id,
       |    min((1000003 * h + 12345) % 2147483647) AS m0,
       |    min((1000033 * h + 54321) % 2147483647) AS m1,
       |    min((1000037 * h + 11111) % 2147483647) AS m2,
       |    min((1000039 * h + 22222) % 2147483647) AS m3,
       |    min((1000081 * h + 33333) % 2147483647) AS m4,
       |    min((1000099 * h + 44444) % 2147483647) AS m5,
       |    min((1000117 * h + 55555) % 2147483647) AS m6,
       |    min((1000121 * h + 66666) % 2147483647) AS m7
       |  FROM $hashed GROUP BY doc_id
       |),
       |bands AS (
       |  SELECT doc_id, 0 AS band, (m0 * 1000003 + m1) % 2147483647 AS bh FROM mh
       |  UNION ALL SELECT doc_id, 1, (m2 * 1000003 + m3) % 2147483647 FROM mh
       |  UNION ALL SELECT doc_id, 2, (m4 * 1000003 + m5) % 2147483647 FROM mh
       |  UNION ALL SELECT doc_id, 3, (m6 * 1000003 + m7) % 2147483647 FROM mh
       |)""".stripMargin

  /** The LSH candidate pairs `$out(doc_a, doc_b)`: distinct doc pairs
    * sharing at least one `bands` bucket, smaller id first. */
  def duckBandPairs(out: String): String =
    s"""$out AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
       |                           AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** Connected components as recursive reachability, the oracle twin of
    * LlmOps.dedupGroups: `$edges` holds both directions of each
    * `prs(doc_a, doc_b)` edge, and `reach(doc_id, label)` spreads
    * every node's own id from `$nodes` along them, so a node's
    * component label is its `min(label)`. The caller's WITH must say
    * RECURSIVE. `wrapStep` breaks the recursive step over two lines. */
  def duckCcReach(nodes: String, edges: String = "edges",
      wrapStep: Boolean = false): String = {
    val step = if (wrapStep) "\n  " else " "
    s"""$edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM prs
       |  UNION ALL SELECT doc_b, doc_a FROM prs
       |),
       |reach AS (
       |  SELECT doc_id, doc_id AS label FROM $nodes
       |  UNION
       |  SELECT e.dst AS doc_id, r.label${step}FROM reach r JOIN $edges e ON e.src = r.doc_id
       |)""".stripMargin
  }

  /** The band-count CTE `nn(wd)` of the 60-bit banded Hamming search:
    * the largest divisor of 60 in {4,5,6,10,12,15} under the
    * bitlength(n - 1) - 1 law over the `documents` count (the twin of
    * LlmOps.stableBandWidth). */
  val duckBandWidthNn: String =
    """nn AS (
      |  SELECT CASE WHEN p >= 15 THEN 15 WHEN p >= 12 THEN 12
      |              WHEN p >= 10 THEN 10 WHEN p >= 6 THEN 6
      |              WHEN p >= 5 THEN 5 ELSE 4 END AS wd
      |  FROM (SELECT greatest(4, least(15, length(bin(count(*) - 1)) - 1))
      |          AS p FROM documents)
      |)""".stripMargin

  /** `$out(doc_id, $code, band, slice)`: each 60-bit `$code` of `$src`
    * cut into 60 / nn.wd slices of nn.wd bits; `filter` is appended to
    * the WHERE clause. */
  def duckBandSlices(out: String, src: String, code: String,
      filter: String = ""): String =
    s"""$out AS (
       |  SELECT doc_id, $code, band,
       |    ($code >> CAST(band * nn.wd AS INT))
       |      & ((CAST(1 AS BIGINT) << nn.wd) - 1) AS slice
       |  FROM $src, generate_series(0, 14) g(band), nn
       |  WHERE band < 60 // nn.wd$filter
       |)""".stripMargin

  /** The banded Hamming pair search over `$src(doc_id, $code)` ending
    * the query: slices, every pair agreeing on one slice (`$pairs`),
    * and the pairs within Hamming distance 3. Needs `nn`. */
  def duckHammingPairsSql(src: String, code: String, pairs: String): String =
    s"""${duckBandSlices("banded", src, code)},
       |$pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.$code, b.$code)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b ON a.band = b.band AND a.slice = b.slice
       |                             AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM $pairs WHERE hamming <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Sequential left-fold double sum (mirrors LlmOps' aggregate order). */
  def duckFold(terms: String): String =
    s"list_reduce(list_prepend(0.0, $terms), (a, x) -> a + x)"

  /** DuckDB rendering of TextOps.log2Fixed (20 fractional bits):
    * normalize to [1,2) then 20 digit-extracting squarings — every step
    * an IEEE-exact double op, so the integer matches Spark's bit for
    * bit. Rendered as a 20-step chained-CTE unroll over a caller-
    * provided `argsCte(n)` of DISTINCT positive integers, producing a
    * CTE `lg(n, f)` to join against. NOT a `list_reduce` lambda: DuckDB
    * 1.0.0's list_reduce corrupts struct accumulators across rows with
    * divergent iteration paths (verified: identical rows fold
    * correctly, mixed rows cross-talk), while plain chained CASE
    * columns vectorize exactly. */
  def duckLog2FixedCtes(argsCte: String = "args"): String = {
    val steps = (1 to 20).map { k =>
      s"""__lg$k AS (SELECT n, CASE WHEN y*y >= 2 THEN y*y/2 ELSE y*y END AS y,
         |  v*2 + CAST(y*y >= 2 AS BIGINT) AS v FROM __lg${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""__lg0 AS (
       |  SELECT n, CAST(n AS DOUBLE) / power(2.0, length(bin(n)) - 1) AS y,
       |         CAST(0 AS BIGINT) AS v
       |  FROM $argsCte
       |),
       |$steps,
       |lg AS (SELECT n, (length(bin(n)) - 1) * 1048576 + v AS f FROM __lg20)"""
      .stripMargin
  }
}
