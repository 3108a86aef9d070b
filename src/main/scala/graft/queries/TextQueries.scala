package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Pin
import graft.operators.{LlmOps, MultimodalOps, TextOps}
import Tables.t

/** Harness queries for the text-analysis and multimodal operators
  * (TextOps / MultimodalOps), DuckDB-oracle-checked. */
object TextQueries {

  /** ONE source for llm_split's recipe — the Spark op and the oracle
    * SQL both render their cutoffs from it. */
  private[queries] val SplitFractions =
    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  private def duckList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  /** Render a Java-regex string as a DuckDB single-quoted regex literal.
    * Oracle parity silently depends on the pattern staying inside the
    * Java-regex ∩ RE2 shared subset, so this ENFORCES it at render time
    * instead of trusting a comment: constructs RE2 lacks (lookaround,
    * atomic groups, backreferences, possessive quantifiers) are
    * rejected, and embedded single quotes are SQL-escaped. Deliberately
    * conservative — a false reject forces a portable rewrite, a false
    * accept would silently diverge the oracle. */
  private[graft] def duckRegexLit(re: String): String = {
    // "(?<" covers lookbehinds AND Java named groups (?<name>...) in one
    Seq("(?=", "(?!", "(?<", "(?>").foreach(b =>
      require(!re.contains(b), s"non-RE2 construct '$b' in oracle regex: $re"))
    require("""\\[1-9]|\\k<""".r.findFirstIn(re).isEmpty,
      s"backreference in oracle regex: $re")
    require("""[+*?}]\+""".r.findFirstIn(re).isEmpty,
      s"possessive quantifier (or ambiguous '++') in oracle regex: $re")
    "'" + re.replace("'", "''") + "'"
  }

  private def duckStopCount(list: Seq[String]): String =
    s"len(list_filter(ws, x -> list_contains(${duckList(list)}, x)))"

  /** The payload perceptual-fingerprint CTE chain (the hex twin of
    * MultimodalOps.payloadFingerprint / the native PayloadCode) over
    * `documents`, ending in `$out(doc_id, pcode)` — the one derivation
    * the near-dup, incremental and cross-modal payload oracles share. */
  private def duckPayloadCodeCtes(out: String): String =
    s"""__pc_hx AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS h,
       |         CAST(octet_length(encode(text)) AS BIGINT) AS n
       |  FROM documents WHERE octet_length(encode(text)) > 0
       |),
       |__pc_b0 AS (
       |  SELECT doc_id, n, h, unnest(generate_series(0, n - 1)) AS i
       |  FROM __pc_hx
       |),
       |__pc_bv AS (
       |  SELECT doc_id, CAST((i // 4) % 60 AS BIGINT) AS b,
       |    CAST((strpos('0123456789abcdef',
       |            substr(h, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
       |       + strpos('0123456789abcdef',
       |            substr(h, CAST(2 * i + 2 AS INT), 1)) - 1 AS BIGINT) AS v
       |  FROM __pc_b0
       |),
       |__pc_pb AS (
       |  SELECT doc_id, b, sum(v) AS bs, CAST(count(*) AS BIGINT) AS bc
       |  FROM __pc_bv GROUP BY 1, 2
       |),
       |__pc_tt AS (
       |  SELECT doc_id, sum(bs) AS ts, sum(bc) AS tc FROM __pc_pb GROUP BY 1
       |),
       |$out AS (
       |  SELECT p.doc_id,
       |    CAST(sum(CASE WHEN p.bs * t.tc > t.ts * p.bc
       |                  THEN (CAST(1 AS BIGINT) << CAST(p.b AS INT))
       |                  ELSE 0 END) AS BIGINT) AS pcode
       |  FROM __pc_pb p JOIN __pc_tt t USING (doc_id) GROUP BY 1
       |)""".stripMargin

  /** The stableBandWidth(n) CASE ladder as a one-row subquery `(wd)`.
    * The count is clamped to ≥ 1 BEFORE the `bin(n − 1)` width probe:
    * DuckDB's bin(-1) is the 64-char two's-complement string (width 15)
    * while Scala stableBandWidth(0) clamps to 4 — a latent geometry
    * divergence on an empty corpus (harmless only because empty in =
    * empty out on both sides, r16 advice; clamped so the twin holds for
    * degenerate inputs too). */
  private def duckWidthLadder(countSql: String): String =
    s"""(SELECT CASE WHEN p >= 15 THEN 15 WHEN p >= 12 THEN 12
       |            WHEN p >= 10 THEN 10 WHEN p >= 6 THEN 6
       |            WHEN p >= 5 THEN 5 ELSE 4 END AS wd
       |  FROM (SELECT greatest(4, least(15,
       |          length(bin(greatest(1, ($countSql)) - 1)) - 1))
       |          AS p))""".stripMargin

  /** BPE TRAINING CTE chain (Sennrich iterated argmax, one unrolled
    * block per round: pair counts → (count desc, pair asc) argmax →
    * run-parity-window merge application), ending with `bm1..bmN`
    * (the learned merges) and `syN` (the merged vocabulary state).
    * Mirrors [[graft.operators.TextOps.bpeTrain]] round for round;
    * shared by llm_bpe_train and llm_tokenize_e2e. `mg$r` and `sy$r`
    * are MATERIALIZED: each round reads `mg$r` twice, and DuckDB 1.0.0
    * inlines a plain CTE into every reference, so the work doubled per
    * round (6 rounds exhausted a 6 GB memory limit at sf0.01). */
  private def duckBpeTrainCtes(nRounds: Int): String = {
    def round_(r: Int): String =
      s"""px$r AS (
         |  SELECT word, freq, i, s[i + 1] AS x, s[i + 2] AS y FROM (
         |    SELECT word, freq, s,
         |           unnest(generate_series(0, len(s) - 2)) AS i
         |    FROM sy${r - 1} WHERE len(s) >= 2
         |  )
         |),
         |pc$r AS (SELECT x, y, sum(freq) AS cnt FROM px$r GROUP BY x, y),
         |bm$r AS (SELECT x, y FROM pc$r ORDER BY cnt DESC, x, y LIMIT 1),
         |mk$r AS (
         |  SELECT p.word, p.i, (p.x = b.x AND p.y = b.y) AS m,
         |    CASE WHEN p.x = b.x AND p.y = b.y
         |         THEN p.i - row_number() OVER (
         |           PARTITION BY p.word, (p.x = b.x AND p.y = b.y)
         |           ORDER BY p.i) END AS runk
         |  FROM px$r p, bm$r b
         |),
         |mg$r AS MATERIALIZED (
         |  SELECT word, i,
         |    m AND (row_number() OVER (PARTITION BY word, runk
         |                              ORDER BY i)) % 2 = 1 AS dm
         |  FROM mk$r
         |),
         |sy$r AS MATERIALIZED (
         |  SELECT e.word, e.freq,
         |    list(CASE WHEN coalesce(dm0.dm, false) THEN e.sym || e.nxt
         |              ELSE e.sym END ORDER BY e.i) AS s
         |  FROM (
         |    SELECT word, freq, i, s[i + 1] AS sym, s[i + 2] AS nxt FROM (
         |      SELECT word, freq, s,
         |             unnest(generate_series(0, len(s) - 1)) AS i
         |      FROM sy${r - 1}
         |    )
         |  ) e
         |  LEFT JOIN mg$r dm0 ON dm0.word = e.word AND dm0.i = e.i
         |  LEFT JOIN mg$r pm ON pm.word = e.word AND pm.i = e.i - 1
         |  WHERE NOT coalesce(pm.dm, false)
         |  GROUP BY e.word, e.freq
         |)""".stripMargin
    val rounds = (1 to nRounds).map(round_).mkString(",\n")
    s"""wf AS (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)
       |  GROUP BY w
       |),
       |sy0 AS (
       |  SELECT word, freq,
       |    CASE WHEN word = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split(word, '') END AS s
       |  FROM wf
       |),
       |$rounds""".stripMargin
  }

  /** The static merge table as a DuckDB MAP('a b' → rank) select. */
  private val bpeStaticMergeMap: String = {
    val keys = TextOps.BpeMergesEn
      .map { case (a, b) => s"'$a $b'" }.mkString("[", ",", "]")
    val vals = TextOps.BpeMergesEn.indices
      .map(_ + 1).mkString("[", ",", "]")
    s"SELECT map($keys, $vals) AS m"
  }

  /** Position of the lowest-rank mergeable pair of `syms` under the
    * merge MAP `m`, NULL when none applies (leftmost on rank ties). */
  private val bpeBestJ: String =
    "(list_sort(list_filter(list_transform(" +
      "generate_series(1, len(syms)-1), " +
      "i -> {'r': m[syms[i] || ' ' || syms[i+1]][1], 'i': i}), " +
      "x -> x.r IS NOT NULL)))[1].i"

  /** BPE encode-to-ids CTE chain — the llm_bpe_tokens recursion
    * carried through to ids, ending in `enc(doc_id, pos, tid)`.
    * Mirrors [[graft.operators.TextOps.bpeEncodeIds]] /
    * [[graft.operators.TextOps.bpeVocab]] exactly: same merge ranks,
    * same codepoint-ordered base vocabulary from id 1, merge outputs
    * at nBase + rank with first-writer-wins (min id), UNK = 0.
    * `mmBody` must select one row with a `m` MAP('pair a b' → rank);
    * `mvCte` must be a full CTE defining `mv(mrank, sym)` — the merge
    * outputs with their candidate-id ranks. Defaults render the
    * static `TextOps.BpeMergesEn` table; llm_tokenize_e2e passes
    * fragments built from its own replayed TRAINING rounds. The
    * caller's WITH must say RECURSIVE. */
  private def duckBpeEncodeCtes(
      mmBody: Option[String] = None,
      mvCte: Option[String] = None,
      src: String = "documents"): String = {
    val mergeRows = TextOps.BpeMergesEn.zipWithIndex
      .map { case ((a, b), i) => s"(${i + 1}, '$a$b')" }.mkString(", ")
    val mm = mmBody.getOrElse(bpeStaticMergeMap)
    val mv = mvCte.getOrElse(s"mv(mrank, sym) AS (VALUES $mergeRows)")
    s"""mm AS (
       |  $mm
       |),
       |w0 AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $src
       |),
       |wds AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS wi, ws
       |  FROM w0
       |),
       |binit AS (
       |  SELECT doc_id, wi,
       |    CASE WHEN ws[wi] = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split(ws[wi], '') END AS syms
       |  FROM wds
       |),
       |bst AS (
       |  SELECT doc_id, wi, syms FROM binit
       |  UNION ALL
       |  SELECT doc_id, wi,
       |         syms[1:bj-1] || [syms[bj] || syms[bj+1]] || syms[bj+2:]
       |  FROM (
       |    SELECT doc_id, wi, syms, $bpeBestJ AS bj FROM bst, mm
       |  ) WHERE bj IS NOT NULL
       |),
       |bfin AS (
       |  SELECT doc_id, wi, syms FROM (
       |    SELECT doc_id, wi, syms, $bpeBestJ AS bj FROM bst, mm
       |  ) WHERE bj IS NULL
       |),
       |vb AS (
       |  SELECT ch, CAST(row_number() OVER (ORDER BY ch) AS BIGINT) AS tid
       |  FROM (
       |    SELECT DISTINCT ch FROM (
       |      SELECT unnest(string_split(lower(text), '')) AS ch
       |      FROM $src
       |    ) WHERE ch <> ''
       |  )
       |),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vb),
       |$mv,
       |vocab AS (
       |  SELECT sym, min(tid) AS tid FROM (
       |    SELECT ch AS sym, tid FROM vb
       |    UNION ALL
       |    SELECT mv.sym, CAST(mv.mrank + nb.n AS BIGINT) FROM mv, nb
       |  ) GROUP BY sym
       |),
       |etok AS (
       |  SELECT doc_id, wi, unnest(generate_series(1, len(syms))) AS si,
       |         syms
       |  FROM bfin
       |),
       |enc AS MATERIALIZED (
       |  SELECT e.doc_id,
       |    CAST(row_number() OVER (
       |      PARTITION BY e.doc_id ORDER BY e.wi, e.si) - 1 AS BIGINT)
       |      AS pos,
       |    CAST(coalesce(v.tid, 0) AS BIGINT) AS tid
       |  FROM (SELECT doc_id, wi, si, syms[si] AS sym FROM etok) e
       |  LEFT JOIN vocab v ON v.sym = e.sym
       |)""".stripMargin
  }

  /** Stupid-backoff trigram LM CTE chain (train counts on the src0
    * split, fixed-point log table, five-way backoff join, integer
    * gate), ending in `sb(doc_id, n_grams, bits_per_gram, kept)`.
    * Mirrors [[graft.operators.TextOps.lmStupidBackoff]] term for
    * term; shared by llm_sb3_ppl and llm_curriculum_pack. */
  private def duckSb3Ctes(): String = {
    val F = 1L << 20
    s"""trn AS (
           |  SELECT string_split(lower(text), ' ') AS ws
           |  FROM documents WHERE source = 'src0'
           |),
           |u0 AS (
           |  SELECT ${DuckSql.duckHash("w")} AS h,
           |         CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT unnest(ws) AS w FROM trn) GROUP BY 1
           |),
           |b0 AS (
           |  SELECT ${DuckSql.duckHash("ws[i] || ' ' || ws[i+1]")} AS h,
           |         CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
           |        FROM trn WHERE len(ws) >= 2)
           |  GROUP BY 1
           |),
           |t0 AS (
           |  SELECT
           |    ${DuckSql.duckHash("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")}
           |      AS h,
           |    CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i
           |        FROM trn WHERE len(ws) >= 3)
           |  GROUP BY 1
           |),
           |tot AS (
           |  SELECT (SELECT sum(c) FROM u0) + (SELECT count(*) FROM u0) AS n
           |),
           |args AS (
           |  SELECT c AS n FROM u0
           |  UNION SELECT c + 1 FROM u0
           |  UNION SELECT c FROM b0
           |  UNION SELECT c FROM t0
           |  UNION SELECT n FROM tot
           |),
           |${DuckSql.duckLog2FixedCtes("args")},
           |uni AS (
           |  SELECT u0.h, l1.f AS f, l2.f AS fp
           |  FROM u0 JOIN lg l1 ON l1.n = u0.c JOIN lg l2 ON l2.n = u0.c + 1
           |),
           |bi AS (SELECT b0.h, lg.f FROM b0 JOIN lg ON lg.n = b0.c),
           |tri AS (SELECT t0.h, lg.f FROM t0 JOIN lg ON lg.n = t0.c),
           |ft AS (SELECT lg.f AS ft FROM tot JOIN lg ON lg.n = tot.n),
           |d AS (
           |  SELECT doc_id, string_split(lower(text), ' ') AS ws
           |  FROM documents
           |),
           |g AS (
           |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
           |  FROM d WHERE len(ws) >= 3
           |),
           |k AS (
           |  SELECT doc_id,
           |    ${DuckSql.duckHash("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")}
           |      AS h3,
           |    ${DuckSql.duckHash("ws[i] || ' ' || ws[i+1]")} AS h2c,
           |    ${DuckSql.duckHash("ws[i+1] || ' ' || ws[i+2]")} AS h2,
           |    ${DuckSql.duckHash("ws[i+1]")} AS h1c,
           |    ${DuckSql.duckHash("ws[i+2]")} AS h1
           |  FROM g
           |),
           |s AS (
           |  SELECT doc_id,
           |    CASE WHEN t.f IS NOT NULL THEN t.f - bc.f
           |         WHEN b.f IS NOT NULL THEN b.f - uc.f - $F
           |         ELSE coalesce(up.fp, 0) - ft.ft - ${2 * F} END AS sc
           |  FROM k
           |  LEFT JOIN tri t ON t.h = k.h3
           |  LEFT JOIN bi bc ON bc.h = k.h2c
           |  LEFT JOIN bi b ON b.h = k.h2
           |  LEFT JOIN uni uc ON uc.h = k.h1c
           |  LEFT JOIN uni up ON up.h = k.h1
           |  CROSS JOIN ft
           |),
           |sb AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |    round(CAST(-sum(sc) AS DOUBLE) / (count(*) * $F), 6)
           |      AS bits_per_gram,
           |    CAST(-sum(sc) <= count(*) * ${8 * F} AS BIGINT) AS kept
           |  FROM s GROUP BY doc_id
           |)""".stripMargin
  }

  /** Winnowing fingerprint CTE chain (normalize → k-gram hashes →
    * window-min with rightmost-tie selection → distinct (fp, pos)),
    * ending in `fps(doc_id, fp, pos)`. Mirrors
    * [[graft.operators.TextOps.winnowFingerprints]] exactly: same
    * normalization regex, same char-fold hash ([[DuckSql.duckHash]]),
    * same rightmost-argmin convention (max gram index achieving the
    * window minimum). */
  private def duckWinnow(k: Int, w: Int, filter: String): String =
    s"""norm AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
       |  FROM documents $filter
       |),
       |g AS (
       |  SELECT doc_id, unnest(generate_series(1, length(s) - ${k - 1})) AS i, s
       |  FROM norm WHERE length(s) >= $k
       |),
       |gh AS (
       |  SELECT doc_id, i, ${DuckSql.duckHash(s"substr(s, CAST(i AS INT), $k)")} AS h
       |  FROM g
       |),
       |wj AS (
       |  SELECT doc_id, unnest(generate_series(1, length(s) - ${k + w - 2})) AS j
       |  FROM norm WHERE length(s) >= ${k + w - 1}
       |),
       |wing AS (
       |  SELECT wj.doc_id, wj.j, gh.i, gh.h
       |  FROM wj JOIN gh ON gh.doc_id = wj.doc_id
       |    AND gh.i BETWEEN wj.j AND wj.j + ${w - 1}
       |),
       |mins AS (SELECT doc_id, j, min(h) AS fp FROM wing GROUP BY 1, 2),
       |sel AS (
       |  SELECT m.doc_id, m.fp, max(wi.i) AS pos
       |  FROM mins m JOIN wing wi
       |    ON wi.doc_id = m.doc_id AND wi.j = m.j AND wi.h = m.fp
       |  GROUP BY m.doc_id, m.j, m.fp
       |),
       |fps AS (SELECT DISTINCT doc_id, fp, CAST(pos AS BIGINT) AS pos FROM sel)"""
      .stripMargin

  import DuckSql.duckHash

  /** DuckDB rendering of TextOps.mixBucket: polyhash then one
    * multiplicative scramble, bucket in [0, 10000). Stays in lockstep
    * with the Scala expression (same left-assoc `* % %` chain). */
  private def duckMixBucket(strExpr: String): String =
    s"${duckHash(strExpr)} * 2654435761 % 4294967296 % 10000"

  /** DuckDB rendering of TextOps.hllDistinct at register precision `p`
    * (llm_hll_card pins p=10; llm_hll_card_p14 the 16k-register
    * production precision): scrambled token hash -> 2^p registers,
    * exact-dyadic harmonic sum, raw estimator + linear-counting
    * small-range correction via log2Fixed, with every float either a
    * rendered literal or one division both engines compute
    * identically. */
  private def hllCardSql(p: Int): String = {
    val m = 1L << p
    val wmax = 32 - p + 1
    val F = 1L << 20
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val rawNum = alpha * m.toDouble * m.toDouble * (1L << wmax).toDouble
    val lcc = m.toDouble * math.log(2.0)
    s"""WITH toks AS (
       |  SELECT source, ${DuckSql.duckHash("w")} AS h
       |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS w
       |        FROM documents)
       |),
       |${DuckSql.duckMix32Ctes("toks", "source", "h")},
       |regs AS (
       |  SELECT source, k % $m AS j,
       |    max(CASE WHEN k // $m = 0 THEN $wmax
       |             ELSE $wmax - length(bin(k // $m)) END) AS mj
       |  FROM mx GROUP BY 1, 2
       |),
       |agg AS (
       |  SELECT source, CAST($m - count(*) AS BIGINT) AS zeros,
       |    CAST(sum(CAST(power(2.0, $wmax - mj) AS BIGINT))
       |         + ($m - count(*)) * ${1L << wmax} AS BIGINT) AS s
       |  FROM regs GROUP BY 1
       |),
       |args AS (SELECT DISTINCT zeros AS n FROM agg WHERE zeros > 0),
       |${DuckSql.duckLog2FixedCtes("args")},
       |est AS (
       |  SELECT a.source, a.zeros,
       |    round($rawNum / CAST(a.s AS DOUBLE), 6) AS hll_raw,
       |    CASE WHEN a.zeros > 0
       |              AND $rawNum / CAST(a.s AS DOUBLE) < ${2.5 * m}
       |         THEN round($lcc * (${p.toLong * F} - lg.f)
       |                    / ${F.toDouble}, 6)
       |         ELSE round($rawNum / CAST(a.s AS DOUBLE), 6) END
       |      AS hll_est
       |  FROM agg a LEFT JOIN lg ON lg.n = a.zeros
       |),
       |ex AS (
       |  SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
       |  FROM toks GROUP BY 1
       |)
       |SELECT e.source, x.n_exact, e.hll_est, e.hll_raw, e.zeros
       |FROM est e JOIN ex x ON x.source = e.source
       |ORDER BY e.source""".stripMargin
  }

  /** Final select of the stopword language ID (TextOps.langId's tie
    * precedence en > de > es > fr) over `c(doc_id, lang, c_en..c_fr)`. */
  private val duckLangPredSql: String =
    """SELECT doc_id, lang AS lang_actual,
      |  CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
      |       WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'
      |       WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
      |       WHEN c_fr > 0 THEN 'fr'
      |       ELSE 'und' END AS lang_pred
      |FROM c ORDER BY doc_id""".stripMargin

  /** The unrounded TextOps.qualityScore column over `text` and its
    * lowercased words `ws`. */
  private val duckQualityCol: String =
    s"""    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE least(1.0, CAST(len(ws) AS BIGINT) / 50.0) * 0.4
       |           + CAST(${duckStopCount(TextOps.StopEn)} AS DOUBLE)
       |             / CAST(len(ws) AS BIGINT) * 0.3
       |           + (1.0 - CAST(length(regexp_replace(lower(text),
       |               '[a-z0-9 ]', '', 'g')) AS DOUBLE)
       |               / length(text)) * 0.3 END AS quality""".stripMargin

  /** Every lowercased 2-gram shingle hash of `documents`, duplicates
    * kept: `hashed(h)`, the stream the top-ngram counters read. */
  private val duckBigramStream: String =
    s"""words AS (
       |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
       |),
       |${DuckSql.duckWordShingles("shingles", "words")},
       |hashed AS (
       |  SELECT ${duckHash("s")} AS h FROM shingles
       |)""".stripMargin

  /** The BPE merge recursion over `wds(doc_id, carry, wi, ws)`: `init`
    * splits each word into characters and `st` applies one
    * lowest-rank `mm` merge per step (the BpeTokens kernel's order). */
  private def duckBpeMergeSteps(carry: String): String =
    s"""init AS (
       |  SELECT doc_id, $carry, wi,
       |    CASE WHEN ws[wi] = '' THEN CAST([] AS VARCHAR[])
       |         ELSE string_split(ws[wi], '') END AS syms
       |  FROM wds
       |),
       |st AS (
       |  SELECT doc_id, $carry, wi, syms FROM init
       |  UNION ALL
       |  SELECT doc_id, $carry, wi,
       |         syms[1:bj-1] || [syms[bj] || syms[bj+1]] || syms[bj+2:]
       |  FROM (
       |    SELECT doc_id, $carry, wi, syms, $bpeBestJ AS bj
       |    FROM st, mm
       |  ) WHERE bj IS NOT NULL
       |)""".stripMargin

  /** Token-exact packing of `enc(doc_id, pos, tid)` into `budget`-token
    * sequences from the per-doc stream offsets in `$off(doc_id, shard,
    * o)` (TextOps.packTokenIdsBy's integer div/mod cut). */
  private def duckPackCutSql(off: String, budget: Int): String =
    s"""SELECT o.shard, (o.o + e.pos) // $budget AS seq_no,
       |       (o.o + e.pos) % $budget AS seq_pos, e.doc_id, e.tid
       |FROM enc e JOIN $off o ON o.doc_id = e.doc_id
       |ORDER BY shard, seq_no, seq_pos""".stripMargin

  /** `$cnt` token counts of `enc` per doc in shard doc_id % 4 and the
    * exclusive per-shard running offsets `$off(doc_id, shard, o)` in
    * doc-id order (TextOps.packTokenIds' layout). */
  private def duckShardOffsets(cnt: String, off: String): String =
    s"""$cnt AS (
       |  SELECT doc_id, doc_id % 4 AS shard,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM enc GROUP BY 1, 2
       |),
       |$off AS (
       |  SELECT doc_id, shard,
       |    CAST(coalesce(sum(n) OVER (
       |      PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS o
       |  FROM $cnt
       |)""".stripMargin

  /** Winnow fingerprints of the doc_id < 150 slice (k 8, w 4), each
    * fingerprint once per doc `f`, kept in `b` when 2..50 docs share
    * it, with per-doc counts `sizes` and shared counts `inter(doc_a,
    * doc_b, shared)` (TextOps.winnowPairs). */
  private val duckWinnowOverlap: String =
    s"""${duckWinnow(8, 4, "WHERE doc_id < 150")},
       |f AS (SELECT DISTINCT doc_id, fp FROM fps),
       |d AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
       |b AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM f GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS shared
       |  FROM b a JOIN b b2 ON a.fp = b2.fp AND a.doc_id < b2.doc_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** The duplicated-span islands of the doc_id < 150 slice
    * (TextOps.dupSpans, k 8, w 4, df cap 50, gap 32): positions of
    * fingerprints an earlier doc owns, grouped into `isl(doc_id, pos,
    * g)`. */
  private val duckDupSpanIslands: String =
    s"""${duckWinnow(8, 4, "WHERE doc_id < 150")},
       |f2 AS (SELECT DISTINCT doc_id, fp FROM fps),
       |d AS (SELECT fp FROM f2 GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
       |capped AS (SELECT f.doc_id, f.fp, f.pos FROM fps f JOIN d USING (fp)),
       |own AS (SELECT fp, min(doc_id) AS o FROM capped GROUP BY 1),
       |hits AS (
       |  SELECT DISTINCT c.doc_id, c.pos
       |  FROM capped c JOIN own ON c.fp = own.fp WHERE c.doc_id > own.o
       |),
       |seq AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 32
       |         THEN 1 ELSE 0 END AS brk
       |  FROM hits
       |),
       |isl AS (
       |  SELECT doc_id, pos, sum(brk) OVER (
       |    PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM seq
       |)""".stripMargin

  /** `$name(doc_id, lang, n_tokens)`: whitespace token counts of `$src`. */
  private def duckTokCounts(name: String, src: String): String =
    s"""$name AS (
       |  SELECT doc_id, lang,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM $src
       |)""".stripMargin

  /** Temperature-2 mixing rates over `$src` (TextOps.temperatureMix):
    * token counts `tok`, per-language totals and sqrt weights `tot`,
    * the sorted weight sum `sw` and keep rates `r(lang, rate_e4)` for a
    * 3000-token budget; `sfx` suffixes every CTE name. */
  private def duckTemperatureRates(src: String, sfx: String = ""): String =
    s"""${duckTokCounts(s"tok$sfx", src)},
       |tot$sfx AS (
       |  SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS total,
       |         sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS w
       |  FROM tok$sfx GROUP BY 1
       |),
       |sw$sfx AS (
       |  SELECT ${DuckSql.duckFold(
         "list_transform(list_sort(list(struct_pack(lang := lang, w := w))), x -> x.w)")}
       |    AS sum_w
       |  FROM tot$sfx
       |),
       |r$sfx AS (
       |  SELECT lang,
       |    CAST(floor(least(1.0, 3000.0 * w / sw$sfx.sum_w / total) * 10000)
       |         AS BIGINT) AS rate_e4
       |  FROM tot$sfx, sw$sfx
       |)""".stripMargin

  /** Final select of the budget mixes: the `tok` rows whose
    * lang:doc_id bucket falls under their language's `r` rate. */
  private val duckMixKeepSql: String =
    s"""SELECT tok.doc_id, tok.lang, tok.n_tokens, r.rate_e4
       |FROM tok JOIN r USING (lang)
       |WHERE ${duckMixBucket("tok.lang || ':' || CAST(tok.doc_id AS VARCHAR)")}
       |      < r.rate_e4
       |ORDER BY doc_id""".stripMargin

  /** The C4 segment keep-list: indexes of the 10-word segments of `ws`
    * (`n` words, `nseg` segments, lowercased `wsl`) with at least 5
    * words and no blacklisted token (TextOps.c4Clean). */
  private val duckC4KeepIdx: String =
    """    list_filter(generate_series(0, nseg - 1), i ->
      |      least(10, n - i * 10) >= 5 AND
      |      len(list_filter(wsl[i * 10 + 1 : i * 10 + 10], w ->
      |        list_contains(['lorem','ipsum','javascript','{','}'], w)
      |      )) = 0) AS keep_idx""".stripMargin

  /** `wt(bucket, w)`: the deterministic LCG weight table (micro-units)
    * standing in for a trained hashed-linear classifier. */
  private val duckClassifierWeights: String =
    """wt AS (
      |  SELECT CAST(i AS BIGINT) AS bucket,
      |         CAST((i * 1103515245 + 12345) % 2001 - 1000 AS BIGINT) AS w
      |  FROM generate_series(0, 1023) t(i)
      |)""".stripMargin

  /** The hashed-linear classifier's scores over `documents`, shared by
    * the aggregate and the per-row Spark forms (integer w_sum is
    * order-free, so one oracle checks both). */
  private val duckClassifierSql: String =
    s"""WITH $duckClassifierWeights,
       |toks AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |  FROM documents
       |),
       |hb AS (
       |  SELECT doc_id, ${duckHash("tok")} % 1024 AS bucket FROM toks
       |),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS w_sum
       |  FROM hb LEFT JOIN wt USING (bucket) GROUP BY 1
       |)
       |SELECT doc_id, n_tokens, w_sum,
       |  round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE) / 1000.0
       |                           / n_tokens))), 6) AS score
       |FROM agg ORDER BY doc_id""".stripMargin

  /** DSIR unigram features over `$col` of `$src(doc_id, source, $col)`:
    * target (src0) bucket counts `bt(bucket, ct)` and the raw docs'
    * token buckets `rt(doc_id, bucket)`, 512 hashed buckets. */
  private def duckDsirUnigrams(col: String, src: String): String =
    s"""bt AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM (
       |    SELECT ${duckHash("tok")} % 512 AS bucket FROM (
       |      SELECT unnest(string_split(lower($col), ' ')) AS tok
       |      FROM $src WHERE source = 'src0')
       |  ) GROUP BY 1
       |),
       |rt AS (
       |  SELECT doc_id, ${duckHash("tok")} % 512 AS bucket FROM (
       |    SELECT doc_id, unnest(string_split(lower($col), ' ')) AS tok
       |    FROM $src WHERE source <> 'src0')
       |)""".stripMargin

  /** DSIR from `bt`/`rt` to the top `k` raw docs (TextOps.dsirWeights
    * + dsirScores + dsirTopK): add-one bucket counts, fixed-point
    * log2-ratio weights `wt`, BIGINT doc scores. `ftAlias` names the
    * target-total log join (the caller may own a CTE `ft`). */
  private def duckDsirTopKSql(k: Int, ftAlias: String = "ft"): String =
    s"""br AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS cr
       |  FROM rt GROUP BY 1
       |),
       |tot AS (
       |  SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM bt) AS t,
       |         (SELECT CAST(sum(cr) AS BIGINT) FROM br) AS r
       |),
       |cnts AS (
       |  SELECT g.i AS bucket, coalesce(ct, 0) + 1 AS a_t,
       |         coalesce(cr, 0) + 1 AS a_r
       |  FROM generate_series(0, 511) g(i)
       |  LEFT JOIN bt ON bt.bucket = g.i
       |  LEFT JOIN br ON br.bucket = g.i
       |),
       |args AS (
       |  SELECT DISTINCT n FROM (
       |    SELECT a_t AS n FROM cnts
       |    UNION SELECT a_r FROM cnts
       |    UNION SELECT t + 512 FROM tot
       |    UNION SELECT r + 512 FROM tot)
       |),
       |${DuckSql.duckLog2FixedCtes("args")},
       |wt AS (
       |  SELECT cnts.bucket,
       |    f1.f - $ftAlias.f - f2.f + fr.f AS w
       |  FROM cnts CROSS JOIN tot
       |  JOIN lg f1 ON f1.n = cnts.a_t
       |  JOIN lg $ftAlias ON $ftAlias.n = tot.t + 512
       |  JOIN lg f2 ON f2.n = cnts.a_r
       |  JOIN lg fr ON fr.n = tot.r + 512
       |),
       |sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |         CAST(sum(wt.w) AS BIGINT) AS score
       |  FROM rt LEFT JOIN wt USING (bucket) GROUP BY 1
       |)
       |SELECT doc_id, n_tokens, score,
       |  round(CAST(score AS DOUBLE) / 1048576.0, 6) AS lr
       |FROM sc ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ----- Language ID: stopword-count heuristic -----------------------
    QDef.sql(
      "llm_lang_id",
      s"""WITH w AS (
         |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents
         |),
         |c AS (
         |  SELECT doc_id, lang,
         |    ${duckStopCount(TextOps.StopEn)} AS c_en,
         |    ${duckStopCount(TextOps.StopDe)} AS c_de,
         |    ${duckStopCount(TextOps.StopEs)} AS c_es,
         |    ${duckStopCount(TextOps.StopFr)} AS c_fr
         |  FROM w
         |)
         |$duckLangPredSql""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("lang_actual"),
          TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ----- Language ID: char-trigram profile overlap (LT1b) ------------
    // The brief's "n-gram heuristic" proper: one per-row trigram array,
    // per-language profile-hit counts, same tie precedence as LT1.
    QDef.sql(
      "llm_lang_id_ngram", {
        def prof(p: Seq[String]): String =
          p.map(t => s"'$t'").mkString("[", ",", "]")
        s"""WITH d AS (
           |  SELECT doc_id, lang, lower(text) AS t FROM documents
           |),
           |g AS (
           |  SELECT doc_id, lang,
           |    CASE WHEN length(t) >= 3 THEN
           |      list_transform(generate_series(1, length(t) - 2),
           |                     i -> substr(t, CAST(i AS INT), 3))
           |    ELSE [] END AS tris
           |  FROM d
           |),
           |c AS (
           |  SELECT doc_id, lang,
           |    len(list_filter(tris, x -> list_contains(${prof(TextOps.TriEn)}, x))) AS c_en,
           |    len(list_filter(tris, x -> list_contains(${prof(TextOps.TriDe)}, x))) AS c_de,
           |    len(list_filter(tris, x -> list_contains(${prof(TextOps.TriEs)}, x))) AS c_es,
           |    len(list_filter(tris, x -> list_contains(${prof(TextOps.TriFr)}, x))) AS c_fr
           |  FROM g
           |)
           |$duckLangPredSql""".stripMargin
      }) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("lang_actual"),
          TextOps.langIdNgram(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ----- Quality scoring --------------------------------------------
    QDef.sql(
      "llm_quality",
      s"""WITH w AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents
         |),
         |c AS (
         |  SELECT doc_id,
         |    CASE WHEN length(text) = 0 THEN 0
         |         ELSE CAST(len(ws) AS BIGINT) END AS n_words,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(${duckStopCount(TextOps.StopEn)} AS DOUBLE) / CAST(len(ws) AS BIGINT) END AS stop_ratio,
         |    CASE WHEN length(text) = 0 THEN 0.0
         |         ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |      / length(text) END AS punct_ratio,
         |    length(text) AS n_chars
         |  FROM w
         |)
         |SELECT doc_id, n_words,
         |  round(stop_ratio, 6) AS stop_ratio,
         |  round(punct_ratio, 6) AS punct_ratio,
         |  round(CASE WHEN n_chars = 0 THEN 0.0
         |             ELSE least(1.0, n_words / 50.0) * 0.4 + stop_ratio * 0.3
         |                  + (1.0 - punct_ratio) * 0.3 END, 6) AS quality
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.qualitySignals(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- Per-source data card (corpus profile report) ----------------
    // The artifact a curation run publishes: per source, doc/word
    // volume, mean soft quality, hard-gate pass count, trigram-langid
    // hit count — one scan + one keyed agg over the proven per-row
    // signals. The avg is a double agg (sum order varies) but its
    // error is ~1e-16 relative — far inside both engines' 6-digit
    // rounding and the harness's 9-digit compare.
    QDef.sql(
      "llm_data_card", {
        def prof(p: Seq[String]): String =
          p.map(t => s"'$t'").mkString("[", ",", "]")
        s"""WITH w AS (
           |  SELECT doc_id, source, text, lower(text) AS t,
           |         string_split(lower(text), ' ') AS ws,
           |         string_split(text, chr(10)) AS lines
           |  FROM documents
           |),
           |q AS (
           |  SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS n_words,
           |$duckQualityCol,
           |    CASE WHEN
           |      CAST(len(string_split(text, ' ')) AS BIGINT)
           |        BETWEEN 40 AND 100000
           |      AND CAST(list_reduce(
           |            list_prepend(CAST(0 AS BIGINT),
           |              list_transform(string_split(text, ' '),
           |                x -> CAST(length(x) AS BIGINT))),
           |            (a, b) -> a + b) AS DOUBLE)
           |            / len(string_split(text, ' ')) BETWEEN 3.0 AND 10.0
           |      AND CAST(length(text) - length(replace(text, '#', ''))
           |            + (length(text) - length(replace(text, '...', ''))) / 3
           |            AS DOUBLE) / len(string_split(text, ' ')) <= 0.1
           |      AND CAST(len(list_filter(lines, l -> starts_with(l, '- ')
           |            OR starts_with(l, '* ') OR starts_with(l, '• ')))
           |            AS DOUBLE) / len(lines) <= 0.9
           |      AND CAST(len(list_filter(lines, l -> ends_with(l, '...')))
           |            AS DOUBLE) / len(lines) <= 0.3
           |      AND CAST(len(list_filter(string_split(text, ' '), x ->
           |            regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
           |            / len(string_split(text, ' ')) >= 0.8
           |      AND len(list_filter(
           |            ['the','be','to','of','and','that','have','with'],
           |            s -> list_contains(ws, s))) >= 1
           |      THEN 1 ELSE 0 END AS gk,
           |    CASE WHEN (
           |      SELECT CASE
           |        WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es
           |          AND c_en >= c_fr THEN 'en'
           |        WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'
           |        WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
           |        WHEN c_fr > 0 THEN 'fr' ELSE 'und' END
           |      FROM (SELECT
           |        len(list_filter(tris, x ->
           |          list_contains(${prof(TextOps.TriEn)}, x))) AS c_en,
           |        len(list_filter(tris, x ->
           |          list_contains(${prof(TextOps.TriDe)}, x))) AS c_de,
           |        len(list_filter(tris, x ->
           |          list_contains(${prof(TextOps.TriEs)}, x))) AS c_es,
           |        len(list_filter(tris, x ->
           |          list_contains(${prof(TextOps.TriFr)}, x))) AS c_fr
           |        FROM (SELECT CASE WHEN length(t) >= 3 THEN
           |          list_transform(generate_series(1, length(t) - 2),
           |                         i -> substr(t, CAST(i AS INT), 3))
           |          ELSE [] END AS tris))
           |      ) = 'en' THEN 1 ELSE 0 END AS is_en
           |  FROM w
           |)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_words) AS BIGINT) AS total_words,
           |  round(avg(quality), 6) AS mean_quality,
           |  CAST(sum(gk) AS BIGINT) AS n_gopher_keep,
           |  CAST(sum(is_en) AS BIGINT) AS n_en_trigram
           |FROM q GROUP BY source ORDER BY source""".stripMargin
      }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(LlmOps.words(col("text"))).cast("long"))
            .as("total_words"),
          round(avg(TextOps.qualityScore(col("text"))), 6)
            .as("mean_quality"),
          sum(when(TextOps.gopherKeep(col("text"),
            minWords = 40, minStopwords = 1), 1L).otherwise(0L))
            .as("n_gopher_keep"),
          sum(when(TextOps.langIdNgram(col("text")) === "en", 1L)
            .otherwise(0L)).as("n_en_trigram"))
        .orderBy("source")
    },

    // ----- Probabilistic quality sampling (CCNet-style soft gate) ------
    // Keep each doc with probability = its LT2 quality score, decided
    // by the deterministic mixBucket hash — a calibrated borderline
    // fraction instead of a threshold cliff, reproducible across
    // engines and reruns.
    QDef.sql(
      "llm_quality_sample",
      s"""WITH w AS (
         |  SELECT doc_id, text, string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |q AS (
         |  SELECT doc_id,
         |$duckQualityCol
         |  FROM w
         |),
         |c AS (
         |  SELECT doc_id, quality,
         |    CAST(round(greatest(0.0, least(1.0, quality)) * 10000)
         |      AS BIGINT) AS cut
         |  FROM q
         |)
         |SELECT doc_id, round(quality, 6) AS quality,
         |       round(cut / 10000.0, 4) AS keep_prob
         |FROM c
         |WHERE ${duckMixBucket("'qs1' || ':' || CAST(doc_id AS VARCHAR)")}
         |      < cut
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      TextOps.scoreSample(
        docs.withColumn("__q", TextOps.qualityScore(col("text"))),
        "doc_id", col("__q"), salt = "qs1")
        .select(col("doc_id"), round(col("__q"), 6).as("quality"),
          col("keep_prob"))
        .orderBy("doc_id")
    },

    // ----- Token counting ---------------------------------------------
    QDef.sql(
      "llm_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |           x -> len(x) > 0)) AS BIGINT) AS alnum_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- REAL BPE token counting (LT3 upgrade) -----------------------
    // Priority-queue BPE per lowercased word: repeatedly merge the
    // min-(rank, position) adjacent pair against the shared
    // TextOps.BpeMergesEn table until no pair matches. Spark runs the
    // native per-row kernel (graft.functions.BpeTokens); the oracle
    // replays the identical step order as a recursive CTE over symbol
    // lists — one row per (word, merge step), bounded by word length.
    QDef.sql(
      "llm_bpe_tokens",
      s"""WITH RECURSIVE mm AS (
         |  $bpeStaticMergeMap
         |),
         |w0 AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |         string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |wds AS (
         |  SELECT doc_id, n_chars,
         |         unnest(generate_series(1, len(ws))) AS wi, ws
         |  FROM w0
         |),
         |${duckBpeMergeSteps("n_chars")},
         |fin AS (
         |  SELECT doc_id, n_chars, wi, len(syms) AS n_syms
         |  FROM (
         |    SELECT doc_id, n_chars, wi, syms, $bpeBestJ AS bj
         |    FROM st, mm
         |  ) WHERE bj IS NULL
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, n_chars,
         |       CAST(sum(n_syms) AS BIGINT) AS bpe_tokens
         |FROM fin GROUP BY doc_id, n_chars
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.bpeTokenCount(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- BPE merge-table TRAINING (the missing half of LT20) ---------
    // 6 merges learned by iterated argmax over frequency-weighted
    // adjacent-pair counts on the distinct-word vocabulary (Sennrich
    // et al. 2016), tie-break (count desc, pair asc). The oracle
    // replays EVERY round: pair counts -> argmax -> left-to-right
    // non-overlapping merge application, the latter as a run-parity
    // window (within each run of consecutive pair matches, odd
    // row_numbers merge — exactly the native scan's skip-2 semantics).
    QDef.sql(
      "llm_bpe_train", {
        val out = (1 to 6)
          .map(r => s"SELECT $r AS rank, x, y FROM bm$r")
          .mkString("\nUNION ALL\n")
        s"""WITH ${duckBpeTrainCtes(6)}
           |$out
           |ORDER BY rank""".stripMargin
      }) { (s, dir) =>
      TextOps.bpeTrainTable(t(s, dir, "documents"), "text",
        nMerges = 6).orderBy("rank")
    },

    // ----- Tokenizer closed loop: train -> vocab -> encode -> pack -----
    // The LT20/LT29 loop closed IN ONE QUERY, the way classifier and
    // PQ training closed theirs: 6 merges learned in-engine feed the
    // vocabulary and the encode, and the encoded stream packs into
    // budget-256 sequences. The oracle replays training (the
    // llm_bpe_train rounds verbatim), builds the merge MAP and the
    // vocabulary's merge rows FROM ITS OWN bm1..bm6 output
    // (min-rank dedup = the engine's putIfAbsent), then runs the
    // encode recursion and the pack arithmetic end-to-end.
    QDef.sql(
      "llm_tokenize_e2e", {
        val mgd = (1 to 6)
          .map(r => s"SELECT $r AS mrank0, x, y FROM bm$r")
          .mkString("\nUNION ALL\n")
        s"""WITH RECURSIVE ${duckBpeTrainCtes(6)},
           |mgd AS MATERIALIZED (
           |  SELECT x, y, CAST(min(mrank0) AS BIGINT) AS mrank
           |  FROM ($mgd) GROUP BY x, y
           |),
           |${duckBpeEncodeCtes(
              mmBody = Some("SELECT map(list(x || ' ' || y ORDER BY mrank)," +
                " list(mrank ORDER BY mrank)) AS m FROM mgd"),
              mvCte = Some("mv AS (SELECT mrank, x || y AS sym FROM mgd)"))},
           |${duckShardOffsets("cnt2", "off2")}
           |${duckPackCutSql("off2", 256)}""".stripMargin
      }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val learned = TextOps.bpeTrain(docs, "text", nMerges = 6)
      TextOps.packTokenIds(docs, "doc_id", "text",
        budget = 256L, nShards = 4, merges = learned)
        .orderBy("shard", "seq_no", "seq_pos")
    },

    // ----- BPE encode-to-ids (the tokenize step itself) ----------------
    // The llm_bpe_tokens recursive-CTE encode, carried through to the
    // actual token ids: final symbol lists unnest in (word, symbol)
    // order and map through the replayed vocabulary (corpus code
    // points in codepoint order from id 1, then merge outputs at
    // nBase + rank, first writer wins, 0 = UNK).
    QDef.sql(
      "llm_bpe_encode",
      s"""WITH RECURSIVE ${duckBpeEncodeCtes()}
         |SELECT doc_id, pos, tid FROM enc
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      TextOps.bpeEncodeIds(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "pos")
    },

    // ----- Concat-and-chunk packing of real token ids ------------------
    // The GPT-style last mile: encoded docs lie end-to-end per shard
    // in doc-id order and the token stream is cut every `budget`
    // tokens — documents straddle cuts, sequences are token-exact.
    // The oracle replays encode -> per-doc counts -> window-cumsum
    // offsets -> the integer div/mod cut.
    QDef.sql(
      "llm_pack_ids",
      s"""WITH RECURSIVE ${duckBpeEncodeCtes()},
         |${duckShardOffsets("cnt", "off")}
         |${duckPackCutSql("off", 512)}""".stripMargin) { (s, dir) =>
      TextOps.packTokenIds(t(s, dir, "documents"), "doc_id", "text",
        budget = 512L, nShards = 4)
        .orderBy("shard", "seq_no", "seq_pos")
    },

    // ----- Epoch assembly: gate -> mix -> shuffle -> tokenize -> pack --
    // The training-data endgame in ONE dataflow: a quality gate
    // (gopher-lite: word floor + stopword presence; the full LT21/LT23
    // batteries compose identically — proven in llm_curation2_e2e),
    // temperature mixing at tau=2 over the gated corpus, the
    // deterministic epoch shuffle, and token-exact packing of the BPE
    // ids IN SHUFFLED ORDER via packTokenIdsBy. The oracle replays
    // all five stages — the vocabulary builds from the SELECTED
    // subset, exactly as the engine's bpeVocab sees it.
    QDef.sql(
      "llm_epoch_assembly",
      s"""WITH RECURSIVE g0 AS MATERIALIZED (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE len(string_split(lower(text), ' ')) >= 40
         |    AND len(list_filter(
         |          ['the','be','to','of','and','that','have','with'],
         |          t -> list_contains(string_split(lower(text), ' '), t)))
         |        >= 1
         |),
         |${duckTemperatureRates("g0", "m")},
         |seld AS MATERIALIZED (
         |  SELECT g0.doc_id, g0.text FROM g0 JOIN rm USING (lang)
         |  WHERE ${duckMixBucket("g0.lang || ':' || CAST(g0.doc_id AS VARCHAR)")}
         |        < rm.rate_e4
         |),
         |shf AS (
         |  SELECT doc_id,
         |    ${duckHash("'epoch1:' || CAST(doc_id AS VARCHAR)")}
         |      * 2654435761 % 4294967296 AS sk
         |  FROM seld
         |),
         |shf2 AS (
         |  SELECT doc_id, CAST(sk * 4 // 4294967296 AS BIGINT) AS shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY CAST(sk * 4 // 4294967296 AS BIGINT)
         |      ORDER BY sk, doc_id) AS BIGINT) AS dpos
         |  FROM shf
         |),
         |${duckBpeEncodeCtes(src = "seld")},
         |cnt3 AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM enc GROUP BY 1
         |),
         |off3 AS (
         |  SELECT s.doc_id, s.shard,
         |    CAST(coalesce(sum(c.n) OVER (
         |      PARTITION BY s.shard ORDER BY s.dpos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS o
         |  FROM shf2 s JOIN cnt3 c USING (doc_id)
         |)
         |${duckPackCutSql("off3", 128)}""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      def ws = LlmOps.words(col("text"))
      val gated = docs.filter(size(ws) >= 40 &&
        size(filter(array(TextOps.GopherStops.map(lit): _*),
          w => array_contains(ws, w))) >= 1)
      val picked = TextOps.temperatureMix(gated, "doc_id", "text",
        col("lang"), budgetTokens = 3000L, temperature = 2.0)
      val sel = gated.join(picked.select("doc_id"), Seq("doc_id"))
      val order = TextOps.epochShuffle(sel.select("doc_id"),
        "doc_id", salt = "epoch1", nShards = 4)
      TextOps.packTokenIdsBy(sel, "doc_id", "text",
        budget = 128L, order = order)
        .orderBy("shard", "seq_no", "seq_pos")
    },

    // ----- Document fingerprint (exact-dedup key) ----------------------
    QDef.sql(
      "llm_fingerprint",
      s"""WITH f AS (
         |  SELECT doc_id,
         |    ${duckHash("regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")} AS fp
         |  FROM documents
         |)
         |SELECT doc_id, fp,
         |       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
         |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.fingerprints(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- Winnowing fingerprints (MOSS rolling-hash selection) --------
    QDef.sql(
      "llm_winnow",
      s"""WITH ${duckWinnow(8, 4, "WHERE doc_id < 120")}
         |SELECT doc_id, fp, pos FROM fps
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      TextOps.winnowFingerprints(
        t(s, dir, "documents").filter(col("doc_id") < 120),
        "doc_id", "text", k = 8, w = 4)
        .orderBy("doc_id", "pos")
    },

    // ----- Winnowing overlap pairs (local-similarity join) -------------
    QDef.sql(
      "llm_winnow_pairs",
      s"""WITH $duckWinnowOverlap
         |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
         |       round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE shared >= 2
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      TextOps.winnowPairs(
        t(s, dir, "documents").filter(col("doc_id") < 150),
        "doc_id", "text", k = 8, w = 4, maxDocsPerFp = 50, minShared = 2)
        .orderBy("doc_a", "doc_b")
    },

    // ----- Winnowing dedup end-to-end (the winnow_dedup transform) -----
    // LD14 pairs thresholded on containment, LD6 connected components,
    // keep-min survivors — the exact composition the config-level
    // `winnow_dedup` transform runs (Orchestrator), oracle-checked here
    // so LD15 is hash-gated and not only test-covered. Threshold 0.2
    // is calibrated to the sf corpus: it passes a multi-pair edge set
    // (transitive chains included), so the CC step is genuinely
    // exercised, not a single-edge collapse. The oracle filters on the
    // same round(·,6) value the Spark pairs emit.
    QDef.sql(
      "llm_winnow_dedup",
      s"""WITH RECURSIVE $duckWinnowOverlap,
         |prs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE shared >= 2
         |    AND round(CAST(shared AS DOUBLE) / least(sa.n, sb.n), 6) >= 0.2
         |),
         |${DuckSql.duckCcReach("documents WHERE doc_id < 150", wrapStep = true)}
         |SELECT doc_id FROM (
         |  SELECT doc_id, min(label) AS canonical_id FROM reach GROUP BY doc_id
         |) WHERE doc_id = canonical_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 150)
      val pairs = TextOps.winnowPairs(docs, "doc_id", "text",
          k = 8, w = 4, maxDocsPerFp = 50, minShared = 2)
        .filter(col("overlap") >= 0.2)
        .select(col("doc_a"), col("doc_b"))
      LlmOps.dedupGroups(docs, "doc_id", pairs)
        .filter(col("doc_id") === col("canonical_id"))
        .select("doc_id")
        .orderBy("doc_id")
    },

    // ----- Duplicated-span report (passage-level dedup) ----------------
    // For each doc in the fixed <150 slice: the normalized-text char
    // spans repeating a passage already present in an earlier doc —
    // winnow fps df-capped, attributed to their min-id owner, non-owner
    // positional hits merged gaps-and-islands style (gap 32, >= 2 fps).
    QDef.sql(
      "llm_dup_spans",
      s"""WITH $duckDupSpanIslands
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_fps
         |FROM isl GROUP BY doc_id, g HAVING count(*) >= 2
         |ORDER BY doc_id, span_start""".stripMargin) { (s, dir) =>
      TextOps.dupSpans(
        t(s, dir, "documents").filter(col("doc_id") < 150),
        "doc_id", "text", k = 8, w = 4, maxDocsPerFp = 50,
        gap = 32, minFps = 2)
        .orderBy("doc_id", "span_start")
    },

    // ----- Duplicated-span EXCISION (the report's action side) ---------
    // Same slice/params as llm_dup_spans; docs carrying spans have the
    // borrowed region cut from the RAW text (normalized span coords
    // mapped back through the per-char running kept-count; interior
    // separators go with the span, boundary ones stay; cut docs are
    // whitespace-renormalized), span-free docs pass through
    // byte-identical. The oracle replays the whole chain: winnow →
    // cap/owner/islands → char mapping → cut rule → reassembly.
    QDef.sql(
      "llm_strip_dup_spans",
      s"""WITH $duckDupSpanIslands,
         |spans AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
         |  FROM isl GROUP BY doc_id, g HAVING count(*) >= 2
         |),
         |chars AS (
         |  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
         |  FROM documents
         |  WHERE doc_id < 150 AND doc_id IN (SELECT DISTINCT doc_id FROM spans)
         |),
         |ch AS (
         |  SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS c,
         |    regexp_full_match(lower(substr(text, CAST(i AS INT), 1)), '[a-z0-9]') AS kept,
         |    sum(CASE WHEN regexp_full_match(lower(substr(text, CAST(i AS INT), 1)), '[a-z0-9]')
         |             THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
         |  FROM chars
         |),
         |keepch AS (
         |  SELECT ch.doc_id, ch.i, ch.c FROM ch
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM spans sp WHERE sp.doc_id = ch.doc_id
         |      AND ch.n >= sp.s
         |      AND ch.n <= sp.e - CASE WHEN ch.kept THEN 0 ELSE 1 END)
         |),
         |rebuilt AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(string_agg(c, '' ORDER BY i), '\\s+', ' ', 'g')) AS text
         |  FROM keepch GROUP BY doc_id
         |)
         |SELECT doc.doc_id,
         |  CASE WHEN sp.doc_id IS NOT NULL THEN COALESCE(r.text, '')
         |       ELSE doc.text END AS text
         |FROM documents doc
         |LEFT JOIN (SELECT DISTINCT doc_id FROM spans) sp ON doc.doc_id = sp.doc_id
         |LEFT JOIN rebuilt r ON doc.doc_id = r.doc_id
         |WHERE doc.doc_id < 150
         |ORDER BY doc.doc_id""".stripMargin) { (s, dir) =>
      TextOps.stripDupSpans(
        t(s, dir, "documents").filter(col("doc_id") < 150)
          .select("doc_id", "text"),
        "doc_id", "text", k = 8, w = 4, maxDocsPerFp = 50,
        gap = 32, minFps = 2)
        .orderBy("doc_id")
    },

    // ----- Eval-set decontamination (n-gram screen + winnow verify) ----
    // Docs with doc_id % 20 == 0 inside the fixed <300 slice stand in
    // for the eval/benchmark registry; the rest is the training corpus.
    // Stage 1 flags candidates sharing >= 5 distinct 3-gram shingles
    // with ANY registry doc (broadcast screen); stage 2 re-scores the
    // candidate sliver with winnowing containment (shared selected
    // fingerprints / own fingerprints) and marks is_contaminated at
    // >= 0.32 (calibrated to split the sf candidates, so BOTH decision
    // branches are oracle-exercised) — the same compose the config-level
    // `decontaminate`
    // transform runs, oracle-replayed here end-to-end.
    QDef.sql(
      "llm_decontaminate",
      s"""WITH ${duckWinnow(8, 4, "WHERE doc_id < 300")},
         |${DuckSql.duckShingleHashes("WHERE doc_id < 300", n = 3)},
         |benchh AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 20 = 0),
         |cand AS (
         |  SELECT hashed.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM hashed JOIN benchh USING (h)
         |  WHERE hashed.doc_id % 20 <> 0
         |  GROUP BY 1 HAVING count(*) >= 5
         |),
         |pf AS (SELECT DISTINCT doc_id, fp FROM fps WHERE doc_id % 20 <> 0),
         |bf AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 20 = 0),
         |stats AS (
         |  SELECT pf.doc_id,
         |    round(CAST(count(bf.fp) AS DOUBLE) / count(*), 6) AS c
         |  FROM pf LEFT JOIN bf ON pf.fp = bf.fp
         |  GROUP BY 1
         |)
         |SELECT cand.doc_id, cand.n_overlap,
         |  COALESCE(stats.c, 0.0) AS containment,
         |  COALESCE(stats.c >= 0.32, FALSE) AS is_contaminated
         |FROM cand LEFT JOIN stats USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      LlmOps.decontaminationReport(
        docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
        n = 3, minOverlapNgrams = 5, k = 8, w = 4, minContainment = 0.32)
        .orderBy("doc_id")
    },

    // ----- Stopword removal --------------------------------------------
    QDef.sql(
      "llm_stopword_strip",
      s"""SELECT doc_id,
         |  array_to_string(list_filter(string_split(lower(text), ' '),
         |    w -> NOT list_contains(${TextOps.StopEn.map(w => s"'$w'").mkString("[", ",", "]")}, w)), ' ') AS text
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.removeStopwords(
        t(s, dir, "documents").select("doc_id", "text"), "text", TextOps.StopEn)
        .orderBy("doc_id")
    },

    // ----- TF/DF components (integer-exact TF-IDF inputs) --------------
    QDef.sql(
      "llm_tfdf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
         |),
         |terms AS (
         |  SELECT doc_id, ${duckHash("w")} AS term FROM toks
         |),
         |tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM terms GROUP BY doc_id, term
         |),
         |dfreq AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
         |)
         |SELECT tf.doc_id, tf.term, tf.tf, dfreq.df
         |FROM tf JOIN dfreq USING (term)
         |ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
      TextOps.tfDf(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "term")
    },

    // ----- Global top-20 2-grams ---------------------------------------
    QDef.sql(
      "llm_top_ngrams",
      s"""WITH $duckBigramStream
         |SELECT h, CAST(count(*) AS BIGINT) AS freq
         |FROM hashed GROUP BY h
         |ORDER BY freq DESC, h LIMIT 20""".stripMargin) { (s, dir) =>
      TextOps.topNgrams(t(s, dir, "documents"), "doc_id", "text", n = 2, k = 20)
    },

    // ----- Count-min heavy hitters (bounded-memory top-ngrams) ---------
    // 4x1024 sketch over the 2-gram stream (the LD2 permutation
    // family); top-20 candidates by min-counter estimate, joined with
    // the exact count — est >= exact always (one-sided collision
    // error), and the spread is the width-tuning signal.
    QDef.sql(
      "llm_cms_ngrams", {
        val cell = (r: Int) =>
          s"((${LlmOps.SeedA(r)} * h + ${LlmOps.SeedB(r)}) % 2147483647) % 1024"
        val cellC = (r: Int) =>
          s"((${LlmOps.SeedA(r)} * c.h + ${LlmOps.SeedB(r)}) % 2147483647) % 1024"
        val sketchRows = (0 until 4).map(r =>
          s"SELECT $r AS r, ${cell(r)} AS p FROM hashed")
          .mkString("\n    UNION ALL ")
        val cellJoins = (0 until 4).map(r =>
          s"JOIN sketch s$r ON s$r.r = $r AND s$r.p = ${cellC(r)}")
          .mkString("\n  ")
        s"""WITH $duckBigramStream,
           |cnt AS (
           |  SELECT h, CAST(count(*) AS BIGINT) AS exact_freq
           |  FROM hashed GROUP BY h
           |),
           |sketch AS (
           |  SELECT r, p, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    $sketchRows
           |  ) GROUP BY 1, 2
           |),
           |est AS (
           |  SELECT c.h, least(s0.cnt, s1.cnt, s2.cnt, s3.cnt) AS est
           |  FROM (SELECT DISTINCT h FROM hashed) c
           |  $cellJoins
           |)
           |SELECT est.h AS h, est.est AS est, cnt.exact_freq AS exact_freq
           |FROM est JOIN cnt USING (h)
           |ORDER BY est DESC, h LIMIT 20""".stripMargin
      }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // the exact-count frame IS the candidate set: one pass serves
      // calibration and estimation (no separate distinct shuffle)
      val exact = LlmOps.shingleHashes(docs, "doc_id", "text", 2,
        dedup = false)
        .groupBy("h").agg(count(lit(1)).as("exact_freq"))
      TextOps.cmsHeavyHitters(docs, "doc_id", "text", n = 2, k = 20,
        candidates = Some(exact))
        .select(col("h"), col("est"), col("exact_freq"))
        .orderBy(col("est").desc, col("h"))
    },

    // ----- PII scrubbing ----------------------------------------------
    // Deterministic synthetic PII (an email + phone built from doc_id)
    // is appended to every doc so the redaction is actually exercised
    // on every row; both engines augment, count, and scrub the same
    // string with the same pattern (TextOps.EmailRe/PhoneRe are written
    // in the regex subset valid for both Java regex and RE2).
    QDef.sql(
      "llm_pii_scrub",
      s"""WITH a AS (
         |  SELECT doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR)
         |         || '@ex.org or 555-'
         |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |         || '-1234' AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(aug, ${duckRegexLit(TextOps.EmailRe)}, '<EMAIL>', 'g'),
         |                 ${duckRegexLit(TextOps.PhoneRe)}, '<PHONE>', 'g') AS text_scrubbed,
         |  CAST(len(regexp_extract_all(aug, ${duckRegexLit(TextOps.EmailRe)})) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(aug, ${duckRegexLit(TextOps.PhoneRe)})) AS BIGINT) AS n_phones
         |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val aug = concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex.org or 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-1234"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TextOps.scrubPii(col("aug")).as("text_scrubbed"),
          regexp_count(col("aug"), lit(TextOps.EmailRe)).cast("long").as("n_emails"),
          regexp_count(col("aug"), lit(TextOps.PhoneRe)).cast("long").as("n_phones"))
        .orderBy("doc_id")
    },

    // ----- Repetition signals (Gopher-style boilerplate detection) -----
    QDef.sql(
      "llm_repetition",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
         |),
         |${DuckSql.duckWordShingles("sh", "w")},
         |shh AS (
         |  SELECT doc_id, ${duckHash("s")} AS h FROM sh
         |),
         |ng AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |         count(DISTINCT h) AS d_ngrams
         |  FROM shh GROUP BY 1
         |),
         |tok AS (
         |  SELECT doc_id, unnest(ws) AS wd FROM w
         |),
         |tf AS (
         |  SELECT doc_id, ${duckHash("wd")} AS h, count(*) AS c
         |  FROM tok GROUP BY 1, 2
         |),
         |tw AS (
         |  SELECT doc_id, sum(c) AS n_words, max(c) AS max_wc FROM tf GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  coalesce(ng.n_ngrams, 0) AS n_ngrams,
         |  round(CASE WHEN ng.n_ngrams IS NULL OR ng.n_ngrams = 0 THEN 0.0
         |        ELSE 1.0 - CAST(ng.d_ngrams AS DOUBLE) / ng.n_ngrams END, 6)
         |    AS dup_ngram_ratio,
         |  round(CASE WHEN tw.n_words IS NULL OR tw.n_words = 0 THEN 0.0
         |        ELSE CAST(tw.max_wc AS DOUBLE) / tw.n_words END, 6)
         |    AS top_word_ratio
         |FROM documents d
         |LEFT JOIN ng USING (doc_id) LEFT JOIN tw USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.repetitionSignals(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    // ----- Deterministic stratified sampling (data mixing) -------------
    // Keep 50% of en, 25% of de, 10% of everything else, decided by a
    // reproducible hash of (lang ":" doc_id) — both engines replay the
    // identical fold, so the SAMPLE ITSELF is oracle-checked, not just
    // its size.
    QDef.sql(
      "llm_sample_stratified",
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    ${duckMixBucket("lang || ':' || CAST(doc_id AS VARCHAR)")} AS bucket,
         |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
         |              ELSE 1000 END AS cut
         |  FROM documents)
         |SELECT doc_id, lang FROM h WHERE bucket < cut
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.stratifiedSample(
        t(s, dir, "documents"), "doc_id", col("lang"),
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // ----- Data mixing to a token budget --------------------------------
    // Each language stratum samples down to ~3000 whitespace tokens
    // (keep rate = min(1, budget/total) at 1/10000 granularity) through
    // the scrambled deterministic bucket — the oracle replays rate
    // derivation AND membership, so the mix recipe itself is
    // hash-checked. Realized token shares on the test corpus land
    // within ~15% of the budget per stratum.
    QDef.sql(
      "llm_mix_budget",
      s"""WITH ${duckTokCounts("tok", "documents")},
         |r AS (
         |  SELECT lang,
         |    CAST(floor(least(1.0, 3000.0 / CAST(sum(n_tokens) AS DOUBLE))
         |               * 10000) AS BIGINT) AS rate_e4
         |  FROM tok GROUP BY 1
         |)
         |$duckMixKeepSql""".stripMargin) { (s, dir) =>
      TextOps.sampleToBudget(t(s, dir, "documents"), "doc_id", "text",
        col("lang"), budgetTokens = 3000L)
        .select(col("doc_id"), col("stratum").as("lang"),
          col("n_tokens"), col("rate_e4"))
        .orderBy("doc_id")
    },

    // ----- In-document segment dedup (C4 repeated-lines rule) ----------
    // Non-overlapping 3-word segments; a segment repeating an EARLIER
    // segment of the same doc is dropped, survivors reassemble in
    // order. Pure per-row array ops on both engines — the oracle
    // replays the segmentation, the first-occurrence filter, and the
    // reassembly string-for-string.
    QDef.sql(
      "llm_dedup_segments",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |),
         |segd AS (
         |  SELECT doc_id,
         |    list_transform(generate_series(0,
         |        CAST(ceil(len(ws) / 3.0) AS BIGINT) - 1),
         |      i -> array_to_string(list_slice(ws, i*3 + 1, i*3 + 3), ' ')) AS segs
         |  FROM w
         |),
         |kept AS (
         |  SELECT doc_id, segs,
         |    list_transform(
         |      list_filter(generate_series(1, len(segs)),
         |        i -> NOT list_contains(list_slice(segs, 1, i - 1), segs[i])),
         |      i -> segs[i]) AS ks
         |  FROM segd
         |)
         |SELECT doc_id, array_to_string(ks, ' ') AS text,
         |       CAST(len(segs) - len(ks) AS BIGINT) AS n_dropped
         |FROM kept ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.dedupDocSegments(
        t(s, dir, "documents").select("doc_id", "text"),
        "doc_id", "text", window = 3)
        .orderBy("doc_id")
    },

    // ----- Temperature-based mixture sampling (tau = 2) -----------------
    // The mT5/XLM-R recipe at its common tau=2: result token shares
    // follow sqrt(tokens_i), low-resource langs upweighted. tau=2 is
    // the ONLY hash-compared parameterization by design: alpha=0.5
    // routes through sqrt (IEEE-correctly-rounded everywhere) and the
    // weight sum is a sorted left fold, so every float in the rate is
    // bit-reproducible across engines; other alphas go through libm
    // pow and are operational-only.
    QDef.sql(
      "llm_temperature_mix",
      s"""WITH ${duckTemperatureRates("documents")}
         |$duckMixKeepSql""".stripMargin) { (s, dir) =>
      TextOps.temperatureMix(t(s, dir, "documents"), "doc_id", "text",
        col("lang"), budgetTokens = 3000L, temperature = 2.0)
        .select(col("doc_id"), col("stratum").as("lang"),
          col("n_tokens"), col("rate_e4"))
        .orderBy("doc_id")
    },

    // ----- Deterministic holdout split ----------------------------------
    // 90/5/5 train/val/test as a pure function of (salt, doc_id): the
    // oracle replays the scrambled bucket and the SAME integer cutoffs
    // (rendered from one Scala source below), so any drift in the hash,
    // the scramble, or the cumulative-bound arithmetic breaks the hash
    // compare. Growth-stability (new docs never move old ones) is
    // pinned in LlmOpsSpec.
    QDef.sql(
      "llm_split", {
        val bounds = TextQueries.SplitFractions
          .map { case (n, f) => (n, Math.round(f * 10000).toInt) }
        val cums = bounds.scanLeft(0)(_ + _._2).tail
        val branches = bounds.zip(cums).dropRight(1)
          .map { case ((n, _), b) => s"WHEN bucket < $b THEN '$n'" }
          .mkString(" ")
        s"""WITH b AS (
           |  SELECT doc_id,
           |         ${duckMixBucket("'split:' || CAST(doc_id AS VARCHAR)")}
           |           AS bucket
           |  FROM documents)
           |SELECT doc_id,
           |       CASE $branches ELSE '${bounds.last._1}' END AS split
           |FROM b ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      TextOps.holdoutSplit(
        t(s, dir, "documents").select("doc_id"),
        "doc_id", TextQueries.SplitFractions)
        .orderBy("doc_id")
    },

    // ----- Adaptive per-stratum quality filter ---------------------------
    // Drop the shortest quartile PER LANGUAGE: the threshold adapts to
    // each stratum's own length distribution (a global cutoff would
    // gut the short-document language and keep the long one whole).
    // Exact interpolated percentile — Spark `percentile` and DuckDB
    // `quantile_cont` proved bit-identical by ext_median.
    QDef.sql(
      "llm_adaptive_filter",
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, 0.25) AS thr
        |  FROM documents GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |JOIN q ON d.lang IS NOT DISTINCT FROM q.lang
        |WHERE d.n_chars >= q.thr
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      TextOps.adaptiveFilter(
        t(s, dir, "documents"), "n_chars", col("lang"), q = 0.25)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    },

    // ----- Sequence packing (token-budget binning) ---------------------
    // Offset packing: per-shard running token sum, sequence number =
    // offset div budget — the window shape that packs a 100 TB corpus
    // into training sequences without a sequential pass.
    QDef.sql(
      "llm_pack_sequences",
      """WITH s AS (
        |  SELECT doc_id, lang AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, shard, n_tokens,
        |         coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM s)
        |SELECT doc_id, shard, n_tokens,
        |       CAST(floor(off / 512.0) AS BIGINT) AS seq_no
        |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.packSequences(
        t(s, dir, "documents"), "doc_id", "text",
        budget = 512L, shardCol = col("lang"))
        .orderBy("doc_id")
    },

    // ----- Sequence packing by REAL BPE token counts (LT9 × LT20) ------
    // A training job budgets sequences on tokenizer counts, not
    // whitespace words: the same greedy shard-ordered pack, with the
    // BPE kernel supplying n_tokens. Oracle = the llm_bpe_tokens
    // recursive replay feeding the llm_pack_sequences window.
    QDef.sql(
      "llm_pack_bpe",
      s"""WITH RECURSIVE mm AS (
         |  $bpeStaticMergeMap
         |),
         |w0 AS (
         |  SELECT doc_id, lang, string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |wds AS (
         |  SELECT doc_id, lang,
         |         unnest(generate_series(1, len(ws))) AS wi, ws
         |  FROM w0
         |),
         |${duckBpeMergeSteps("lang")},
         |fin AS (
         |  SELECT doc_id, lang, len(syms) AS n_syms
         |  FROM (
         |    SELECT doc_id, lang, wi, syms, $bpeBestJ AS bj
         |    FROM st, mm
         |  ) WHERE bj IS NULL
         |),
         |bp AS (
         |  SELECT doc_id, lang AS shard,
         |         CAST(sum(n_syms) AS BIGINT) AS n_tokens
         |  FROM fin GROUP BY 1, 2
         |),
         |o AS (
         |  SELECT doc_id, shard, n_tokens,
         |         coalesce(sum(n_tokens) OVER (PARTITION BY shard
         |           ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |           0) AS off
         |  FROM bp)
         |SELECT doc_id, shard, n_tokens,
         |       CAST(floor(off / 256.0) AS BIGINT) AS seq_no
         |FROM o ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.packSequences(
        t(s, dir, "documents"), "doc_id", "text",
        budget = 256L, shardCol = col("lang"),
        tokenCount = Some(TextOps.bpeTokenCountCol(col("text"))))
        .orderBy("doc_id")
    },

    // ----- Deterministic epoch shuffle (training-data ordering) --------
    // Global pseudo-random order by the avalanched hash of
    // "epoch1:" || id (polyhash then the mixBucket multiplicative
    // scramble — the raw polynomial hash is nearly order-preserving on
    // numeric ids), key space cut into 16 contiguous shard ranges by
    // exact integer arithmetic, 1-based rank within shard. Both engines
    // replay the hash-sort exactly — the reproducibility a resumable
    // training job relies on.
    QDef.sql(
      "llm_epoch_shuffle",
      s"""WITH k AS (
         |  SELECT doc_id,
         |         ${duckHash("'epoch1:' || CAST(doc_id AS VARCHAR)")}
         |           * 2654435761 % 4294967296 AS shuffle_key
         |  FROM documents
         |),
         |s AS (
         |  SELECT doc_id, shuffle_key,
         |         CAST(shuffle_key * 16 // 4294967296 AS BIGINT) AS shard
         |  FROM k
         |)
         |SELECT doc_id, shuffle_key, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |         ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
         |FROM s ORDER BY shard, pos""".stripMargin) { (s, dir) =>
      TextOps.epochShuffle(
        t(s, dir, "documents").select("doc_id"),
        "doc_id", salt = "epoch1", nShards = 16)
        .orderBy("shard", "pos")
    },

    // ----- Multimodal frame sampling (no decode) -----------------------
    // Uniformly-strided sample of 4 frame indices out of each payload's
    // stub-derived frame count — pure column arithmetic on both engines,
    // proving the pre-decode sampling plan (the thing that must scale)
    // independently of any codec.
    QDef.sql(
      "llm_frame_sample",
      """WITH f AS (
        |  SELECT doc_id,
        |         CAST(1 + octet_length(encode(text)) % 16 AS BIGINT) AS n_frames
        |  FROM documents
        |)
        |SELECT doc_id, n_frames,
        |       unnest(list_distinct(list_transform(generate_series(0, 3),
        |         j -> CAST(floor(j * n_frames / 4.0) AS BIGINT)))) AS frame_index
        |FROM f ORDER BY doc_id, frame_index""".stripMargin) { (s, dir) =>
      MultimodalOps.frameSample(
        t(s, dir, "documents"), "doc_id",
        MultimodalOps.withPayload(col("text")), k = 4)
        .orderBy("doc_id", "frame_index")
    },

    // ----- Multimodal payload metadata (BinaryType plumbing) -----------
    // Spark side routes text through a real BinaryType payload column;
    // the oracle hashes the same UTF-8 bytes (DuckDB md5(VARCHAR) hashes
    // the string's UTF-8 encoding).
    QDef.sql(
      "llm_multimodal_meta",
      """WITH b AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         md5(text) AS digest
        |  FROM documents
        |)
        |SELECT doc_id, n_bytes, digest,
        |       64 + n_bytes % 960 AS width,
        |       64 + (n_bytes * 31) % 960 AS height,
        |       1 + n_bytes % 16 AS frames
        |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("payload", MultimodalOps.withPayload(col("text")))
      MultimodalOps.payloadMeta(docs, "doc_id", col("payload"))
        .orderBy("doc_id")
    },

    // ----- Multimodal payload near-duplicate pairs ----------------------
    // Perceptual dedup over the opaque BinaryType payload — the
    // multimodal analogue of the SimHash text path, replayable END TO
    // END because the fingerprint is pure integer byte arithmetic
    // (blockhash over the 1-D byte stream) instead of a codec: 60-bit
    // code where bit b = [mean byte of cell b > payload mean], cells =
    // FIXED 4-byte spans folded mod 60 (all 60 bits active past 240 bytes) (a fixed raster — length-scaled
    // cells would re-bin everything on a trailing edit),
    // compared integer-exactly (blockSum*n > totalSum*blockCount);
    // bytes come off the hex rendering so both engines read the
    // identical values. The pair search is the SAME corpus-scaled
    // banded Hamming machinery as llm_simhash_pairs (slice width =
    // largest divisor of 60 under the bitlength law, bands = 60/wd ≥ 4
    // > maxHamming 3 -> pigeonhole-exact recall at every corpus size,
    // stable 3-of-60 predicate). Zero-length payloads drop (no
    // information; exact-digest dedup owns them).
    QDef.sql(
      "llm_payload_neardup",
      s"""WITH ${duckPayloadCodeCtes("code")},
        |${DuckSql.duckBandWidthNn},
        |${DuckSql.duckHammingPairsSql("code", "pcode", "p2")}""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("payload", MultimodalOps.withPayload(col("text")))
      MultimodalOps.payloadNearDupPairs(docs, "doc_id", "payload")
        .orderBy("doc_a", "doc_b")
    },

    // ----- Incremental multimodal near-dup (new batch vs registry) -----
    // The multimodal sibling of llm_incremental_neardedup: history =
    // doc_id % 3 == 0, new batch = the rest; a new payload drops iff
    // its 60-bit perceptual fingerprint is within hamming 3 of ANY
    // historical payload. The band geometry is sized by the HISTORY
    // (the registry defines the bucket space), and recall is
    // pigeonhole-EXACT (bands >= 4 > 3) — stronger than the text
    // path's LSH-probabilistic registry. Output: the kept new ids.
    QDef.sql(
      "llm_payload_incremental",
      s"""WITH ${duckPayloadCodeCtes("pcd")},
         |nn AS ${duckWidthLadder(
               "SELECT count(*) FROM documents WHERE doc_id % 3 = 0")},
         |${DuckSql.duckBandSlices("hb", "pcd", "pcode", " AND doc_id % 3 = 0")},
         |${DuckSql.duckBandSlices("nb", "pcd", "pcode", " AND doc_id % 3 <> 0")},
         |dup AS (
         |  SELECT DISTINCT n.doc_id
         |  FROM nb n JOIN hb h ON n.band = h.band AND n.slice = h.slice
         |  WHERE bit_count(xor(n.pcode, h.pcode)) <= 3
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dup)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("payload", MultimodalOps.withPayload(col("text")))
      val hist = docs.filter(col("doc_id") % 3 === 0)
      val fresh = docs.filter(col("doc_id") % 3 =!= 0)
      MultimodalOps.payloadIncrementalNearDup(fresh, hist, "doc_id", "payload")
        .select("doc_id").orderBy("doc_id")
    },

    // ----- Cross-modal duplicate groups (text OR payload edges + CC) ---
    // A doc duplicates another if its TEXT near-matches (60-bit wide
    // SimHash, hamming <= 3) OR its PAYLOAD near-matches (perceptual
    // fingerprint, hamming <= 3); connected components over the union
    // graph canonicalize across modalities. Both edge derivations are
    // the pinned llm_simhash_pairs / llm_payload_neardup chains
    // verbatim (factored CTE helpers); the CC is the same recursive
    // reachability the llm_dedup_groups oracle replays.
    QDef.sql(
      "llm_crossmodal_groups",
      s"""WITH RECURSIVE ${DuckSql.duckSimHash60Ctes("shc")},
         |${duckPayloadCodeCtes("pcd")},
         |nn AS ${duckWidthLadder("SELECT count(*) FROM documents")},
         |${DuckSql.duckBandSlices("tband", "shc", "simhash")},
         |${DuckSql.duckBandSlices("pband", "pcd", "pcode")},
         |tp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tband a JOIN tband b ON a.band = b.band AND a.slice = b.slice
         |                           AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |),
         |pp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pband a JOIN pband b ON a.band = b.band AND a.slice = b.slice
         |                           AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.pcode, b.pcode)) <= 3
         |),
         |prs AS (SELECT doc_a, doc_b FROM tp UNION
         |        SELECT doc_a, doc_b FROM pp),
         |${DuckSql.duckCcReach("documents", wrapStep = true)}
         |SELECT doc_id, min(label) AS canonical_id
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("payload", MultimodalOps.withPayload(col("text")))
      MultimodalOps.crossModalDupGroups(docs, "doc_id", "text", "payload")
        .orderBy("doc_id")
    },

    // ----- Overlapping word-window chunking (RAG/indexing prep) --------
    // 32-word chunks, stride 24 (8-word overlap). Chunk-count arithmetic
    // is exact-integer on both sides; DuckDB list slicing ws[a:b] is
    // 1-based inclusive = Spark slice(ws, a, W).
    QDef.sql(
      "llm_chunk",
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |),
        |c AS (
        |  SELECT doc_id, ws, len(ws) AS n,
        |    CASE WHEN len(ws) <= 32 THEN 1
        |         ELSE ((len(ws) - 32 + 23) // 24) + 1 END AS nc
        |  FROM w
        |),
        |e AS (
        |  SELECT doc_id, ws, n, unnest(generate_series(0, nc - 1)) AS chunk_idx
        |  FROM c
        |)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS chunk_words,
        |       array_to_string(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
        |         AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")
    },

    // ----- Per-domain cap: top-3 docs per source by quality ------------
    // The web-corpus balance step; ranks by the ROUNDED quality score on
    // both sides (deterministic id tiebreak) so float ordering can never
    // diverge the selection.
    QDef.sql(
      "llm_domain_cap",
      s"""WITH w AS (
         |  SELECT doc_id, source, text, string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |c AS (
         |  SELECT doc_id, source,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |          ELSE least(1.0, len(ws) / 50.0) * 0.4
         |             + (CAST(${duckStopCount(TextOps.StopEn)} AS DOUBLE) / len(ws)) * 0.3
         |             + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |                    / length(text)) * 0.3 END, 6) AS quality
         |  FROM w
         |)
         |SELECT doc_id, source, quality FROM c
         |QUALIFY row_number() OVER (PARTITION BY source
         |                           ORDER BY quality DESC, doc_id) <= 3
         |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      val scored = t(s, dir, "documents").select(
        col("doc_id"), col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"))
      TextOps.domainCap(scored, "doc_id", "source", "quality", n = 3)
        .orderBy("source", "doc_id")
    },

    // ----- Sparse cosine pairs via inverted-index join ------------------
    // Exact cosine over integer-idf-weighted 3-gram shingles; the df
    // band [2, 5% of N] is the frequency-pruning scale lever. Dots and
    // norms are BIGINT-exact; the single float step (sqrt + divide) is
    // correctly rounded on both engines.
    QDef.sql(
      "llm_tfidf_sim",
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |           FROM documents),
         |${DuckSql.duckWordShingles("sh", "w", 3)},
         |terms AS (SELECT doc_id, ${duckHash("s")} AS term FROM sh),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM terms GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |          FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |wt AS (
         |  SELECT tf.doc_id, tf.term, tf.tf * (1000000 // dfreq.df) AS w
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
         |  WHERE dfreq.df >= 2 AND dfreq.df <= floor(0.05 * nd.n_docs)
         |),
         |nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM wt GROUP BY 1),
         |dots AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
         |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b,
         |  round(CAST(dot AS DOUBLE)
         |        / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
         |        6) AS sim
         |FROM dots JOIN nrm na ON na.doc_id = doc_a
         |          JOIN nrm nb ON nb.doc_id = doc_b
         |WHERE CAST(dot AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
         |      >= 0.35
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      TextOps.sparseCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minDf = 2L, maxDfFrac = 0.05, minSim = 0.35)
        .orderBy("doc_a", "doc_b")
    },

    // ----- BM25 relevance against a fixed query --------------------------
    // Per-term partial scores add in the FIXED left-to-right order of
    // the query terms on both engines (conditional-aggregation pivot),
    // token/length statistics ride integers, and the float constants are
    // rendered into this SQL from the same Scala doubles the Spark plan
    // uses — ln in the idf is the only library-rounded step.
    QDef.sql(
      "llm_bm25", {
        val (k1, b) = (1.2, 0.75)
        val qterms = Seq("data", "model", "training")
        val score = qterms.map(tm =>
          s"""coalesce(max(CASE WHEN w = '$tm' THEN
             |  idf * (CAST(tf AS DOUBLE) * ${k1 + 1.0})
             |  / (CAST(tf AS DOUBLE)
             |     + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE) / adl)) END),
             |  0.0)""".stripMargin).mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
           |  FROM documents
           |),
           |tf0 AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
           |        FROM toks GROUP BY 1, 2),
           |dl0 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
           |        FROM tf0 GROUP BY 1),
           |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |                 CAST(sum(dl) AS BIGINT) AS tok_total
           |          FROM dl0),
           |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS df
           |          FROM tf0 GROUP BY 1),
           |sc AS (
           |  SELECT tf0.doc_id, tf0.w, tf0.tf, dl0.dl,
           |         CAST(stats.tok_total AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)
           |           AS adl,
           |         ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(dfreq.df AS DOUBLE)
           |                   + 0.5)
           |                  / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS idf
           |  FROM tf0 JOIN dl0 USING (doc_id) JOIN dfreq USING (w)
           |           CROSS JOIN stats
           |  WHERE tf0.w IN (${qterms.map(tm => s"'$tm'").mkString(", ")})
           |)
           |SELECT doc_id, round($score, 6) AS bm25
           |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("data", "model", "training"))
        .orderBy("doc_id")
    },

    // ----- Boilerplate-segment removal (CCNet-style line dedup) --------
    // Non-overlapping 3-word segments; segments appearing in >= 5
    // distinct docs are boilerplate and dropped; survivors reassemble in
    // document order. Both engines key the DF count on the same
    // polynomial segment hash.
    QDef.sql(
      "llm_boilerplate",
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |),
         |c AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(ws) <= 3 THEN 1
         |         ELSE ((len(ws) - 3 + 2) // 3) + 1 END AS nc
         |  FROM w
         |),
         |e AS (
         |  SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS chunk_idx
         |  FROM c
         |),
         |g AS (
         |  SELECT doc_id, chunk_idx,
         |    array_to_string(ws[chunk_idx * 3 + 1 : chunk_idx * 3 + 3], ' ')
         |      AS seg
         |  FROM e
         |),
         |hs AS (
         |  SELECT doc_id, chunk_idx, seg, ${duckHash("seg")} AS h FROM g
         |),
         |d AS (
         |  SELECT h, count(DISTINCT doc_id) AS df FROM hs GROUP BY 1
         |)
         |SELECT hs.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_total,
         |       CAST(sum(CASE WHEN d.df < 5 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       coalesce(string_agg(CASE WHEN d.df < 5 THEN hs.seg END,
         |                           ' ' ORDER BY hs.chunk_idx), '')
         |         AS text_clean
         |FROM hs JOIN d USING (h)
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextOps.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text",
        window = 3, minDf = 5)
        .orderBy("doc_id")
    },

    // ----- Unigram log-frequency LM-quality proxy ----------------------
    // Mean bit-length of each token's corpus frequency: the integer-
    // exact stand-in for a KenLM perplexity filter (common-word docs
    // score high, rare-token spam low). Both engines agree bit-for-bit
    // because the only float op is one final division.
    QDef.sql(
      "llm_lm_quality",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
         |  FROM documents
         |),
         |h AS (
         |  SELECT doc_id, ${duckHash("w")} AS h FROM toks
         |),
         |c AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(length(bin(cnt))) AS DOUBLE) / count(*), 6)
         |    AS lm_score
         |FROM h JOIN c USING (h)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.unigramLogFreq(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- Bigram LM-quality proxy (the LT17 upgrade path, taken) ------
    // Mean bit-length of each adjacent word-pair's corpus frequency:
    // common TRANSITIONS score high — the fluency signal the unigram
    // proxy can't see. Integer-exact like llm_lm_quality.
    QDef.sql(
      "llm_lm2_quality",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |e AS (
         |  SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 2)) AS i
         |  FROM d WHERE len(ws) >= 2
         |),
         |h AS (
         |  SELECT doc_id, ${duckHash("ws[i + 1] || ' ' || ws[i + 2]")} AS h
         |  FROM e
         |),
         |c AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS cnt FROM h GROUP BY 1
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         |  round(CAST(sum(length(bin(cnt))) AS DOUBLE) / count(*), 6)
         |    AS lm_score
         |FROM h JOIN c USING (h)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.ngramLogFreq(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    // ----- Stupid-backoff trigram LM perplexity gate (LT28) ------------
    // The real n-gram LM in the CCNet position: train Brants et al.
    // stupid-backoff count tables on the src0 reference split, score
    // every doc's trigrams with backoff (alpha = 1/2 so every term is
    // log2Fixed-integer), gate on the UNROUNDED integer sum. The
    // oracle replays training (three gram-count CTEs), the fixed-point
    // log2 table over every distinct count, and the five-way backoff
    // join end-to-end.
    QDef.sql(
      "llm_sb3_ppl",
      s"""WITH ${duckSb3Ctes()}
         |SELECT doc_id, n_grams, bits_per_gram, kept FROM sb
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.lmStupidBackoff(t(s, dir, "documents"), "doc_id", "text",
        trainPred = col("source") === "src0", threshBits = 8)
        .orderBy("doc_id")
    },

    // ----- Curriculum packing (easiest-first by LM bits) ---------------
    // packTokenIdsBy's second layout, completing the LT32 claim: the
    // SAME pack operator consumes a curriculum ranking instead of the
    // epoch shuffle — docs that survive the LT28 gate order globally
    // by ascending bits-per-trigram (most fluent first; rounded-float
    // order is engine-safe because both engines produce the identical
    // rounded value, ties broken by id) and the token stream cuts
    // every 256. The oracle replays LM training + scoring, the rank,
    // the encode (vocabulary from the SELECTED docs), and the cut.
    QDef.sql(
      "llm_curriculum_pack",
      s"""WITH RECURSIVE ${duckSb3Ctes()},
         |selc AS MATERIALIZED (
         |  SELECT d2.doc_id, d2.text,
         |    CAST(row_number() OVER (ORDER BY sb.bits_per_gram, sb.doc_id)
         |         AS BIGINT) AS dpos
         |  FROM sb JOIN documents d2 ON d2.doc_id = sb.doc_id
         |  WHERE sb.kept = 1
         |),
         |${duckBpeEncodeCtes(src = "selc")},
         |cnt4 AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM enc GROUP BY 1
         |),
         |off4 AS (
         |  SELECT s2.doc_id,
         |    CAST(coalesce(sum(c.n) OVER (ORDER BY s2.dpos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS o
         |  FROM selc s2 JOIN cnt4 c USING (doc_id)
         |)
         |SELECT CAST(0 AS BIGINT) AS shard, (o.o + e.pos) // 256 AS seq_no,
         |       (o.o + e.pos) % 256 AS seq_pos, e.doc_id, e.tid
         |FROM enc e JOIN off4 o ON o.doc_id = e.doc_id
         |ORDER BY seq_no, seq_pos""".stripMargin) { (s, dir) =>
      // r14: the exact global rank comes from TextOps.rankLayout — the
      // distributed two-pass rank (range partition + per-partition
      // offsets), IDENTICAL output to the oracle's row_number but with
      // no single-task WindowExec anywhere in the plan (the r13 form's
      // global Window.orderBy was the repo's last no-partition window
      // on a corpus query, and its slowest sf1 entry).
      val docs = t(s, dir, "documents")
      val scored = TextOps.lmStupidBackoff(docs, "doc_id", "text",
        trainPred = col("source") === "src0", threshBits = 8)
        .filter(col("kept") === 1L)
      val order = TextOps.rankLayout(scored, "doc_id", "bits_per_gram")
      val sel = docs.join(order.select("doc_id"), Seq("doc_id"))
      TextOps.packTokenIdsBy(sel, "doc_id", "text",
        budget = 256L, order = order)
        .orderBy("seq_no", "seq_pos")
    },

    // ----- Curriculum packing, BANDED (the production-shard layout) ----
    // The banded twin oracle-checked end-to-end: shard = equal-width
    // difficulty band over [min, max] bits-per-trigram (min/max are
    // order-free aggs; the boundary arithmetic mn + (mx-mn)*k/4 is the
    // identical IEEE expression in both engines on identical rounded
    // doubles), rank WITHIN band, per-band offsets, budget-256 cut.
    // No global single-task sort anywhere — the plan the 100 TB job
    // runs (the quantile-boundary curriculumLayout is the balanced-
    // band production default; range boundaries are its hash-
    // comparable verification twin).
    QDef.sql(
      "llm_curriculum_pack_banded",
      s"""WITH RECURSIVE ${duckSb3Ctes()},
         |sbk AS (SELECT doc_id, bits_per_gram FROM sb WHERE kept = 1),
         |mm2 AS (
         |  SELECT min(bits_per_gram) AS mn, max(bits_per_gram) AS mx
         |  FROM sbk
         |),
         |bnd AS (
         |  SELECT s.doc_id, s.bits_per_gram,
         |    CAST((CASE WHEN s.bits_per_gram
         |                    > mm2.mn + (mm2.mx - mm2.mn) * 0.25
         |               THEN 1 ELSE 0 END)
         |       + (CASE WHEN s.bits_per_gram
         |                    > mm2.mn + (mm2.mx - mm2.mn) * 0.5
         |               THEN 1 ELSE 0 END)
         |       + (CASE WHEN s.bits_per_gram
         |                    > mm2.mn + (mm2.mx - mm2.mn) * 0.75
         |               THEN 1 ELSE 0 END) AS BIGINT) AS shard
         |  FROM sbk s, mm2
         |),
         |ordr AS (
         |  SELECT doc_id, shard,
         |    CAST(row_number() OVER (
         |      PARTITION BY shard ORDER BY bits_per_gram, doc_id)
         |      AS BIGINT) AS dpos
         |  FROM bnd
         |),
         |selc AS MATERIALIZED (
         |  SELECT d2.doc_id, d2.text
         |  FROM documents d2 JOIN ordr USING (doc_id)
         |),
         |${duckBpeEncodeCtes(src = "selc")},
         |cnt5 AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM enc GROUP BY 1
         |),
         |off5 AS (
         |  SELECT o.doc_id, o.shard,
         |    CAST(coalesce(sum(c.n) OVER (
         |      PARTITION BY o.shard ORDER BY o.dpos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS o
         |  FROM ordr o JOIN cnt5 c USING (doc_id)
         |)
         |${duckPackCutSql("off5", 256)}""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val scored = TextOps.lmStupidBackoff(docs, "doc_id", "text",
        trainPred = col("source") === "src0", threshBits = 8)
        .filter(col("kept") === 1L)
      val order = TextOps.curriculumLayoutRange(
        scored, "doc_id", "bits_per_gram", nBands = 4)
      val sel = docs.join(order.select("doc_id"), Seq("doc_id"))
      TextOps.packTokenIdsBy(sel, "doc_id", "text",
        budget = 256L, order = order)
        .orderBy("shard", "seq_no", "seq_pos")
    },

    // ----- HyperLogLog per-source distinct tokens (LT30) ---------------
    // Engine-exact HLL: scrambled token hash -> bucket/leading-zero
    // registers (all integer), exact-dyadic harmonic sum, raw
    // estimator + the linear-counting small-range correction via
    // log2Fixed (no libm ln). Exact count(distinct) sits beside it as
    // calibration. The oracle replays registers, the dyadic sum, the
    // fixed-point ln, and the regime switch.
    QDef.sql(
      "llm_hll_card", hllCardSql(p = 10)) { (s, dir) =>
      TextOps.hllDistinct(t(s, dir, "documents"), "text", "source")
        .orderBy("source")
    },

    // ----- HLL at PRODUCTION precision (p=14: 16k registers, ~0.8%
    // standard error — the register count the published deployments
    // run). Same rendering, parameterized: the oracle replays the
    // 2^14-bucket registers, the dyadic sum, and the regime switch at
    // the p=14 constants. Sketch state is 16k rows per key — still
    // constant-size, still mergeable by max.
    QDef.sql(
      "llm_hll_card_p14", hllCardSql(p = 14)) { (s, dir) =>
      TextOps.hllDistinct(t(s, dir, "documents"), "text", "source", p = 14)
        .orderBy("source")
    },


    // ----- Hashed-linear classifier inference (fastText-style filter) --
    // Logistic regression over a hashed bag-of-words with mean pooling:
    // score = sigmoid((Σ w[polyhash(tok) % 1024]) / 1000 / n_tokens).
    // Weights are fixed-point INTEGERS (micro-units), so the per-doc
    // accumulation is an order-independent integer sum — both engines
    // agree exactly; the only float ops are the final divide + sigmoid,
    // rounded to 6. The deterministic LCG weight table stands in for a
    // trained model (same plan shape: broadcast table, one keyed agg).
    QDef.sql(
      "llm_classifier",
      duckClassifierSql) { (s, dir) =>
      val weights = s.range(1024).select(col("id").as("bucket"),
        ((col("id") * 1103515245L + 12345L) % 2001L - 1000L).as("w"))
      TextOps.classifierScore(t(s, dir, "documents"), "doc_id", "text",
        weights, nBuckets = 1024, scale = 1000.0, bias = 0.0)
        .orderBy("doc_id")
    },

    // ----- Per-row classifier scoring (shuffle-free / streaming form) --
    // Same model and weights as llm_classifier, but the weight table
    // rides as a literal map and each row folds its own tokens — NO
    // explode, NO aggregation, no shuffle (PlanSpec-asserted): the form
    // a streaming ingest gate runs. Integer w_sum is order-free, so
    // the oracle is the same math as llm_classifier's.
    QDef.sql(
      "llm_classifier_row",
      duckClassifierSql) { (s, dir) =>
      val weights = (0 until 1024).map(i =>
        i.toLong -> ((i.toLong * 1103515245L + 12345L) % 2001L - 1000L))
        .toMap
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.classifierScoreRow(col("text"), weights,
            nBuckets = 1024, scale = 1000.0).as("c"))
        .select(col("doc_id"), col("c.n_tokens").as("n_tokens"),
          col("c.w_sum").as("w_sum"), col("c.score").as("score"))
        .orderBy("doc_id")
    },

    // ----- STREAMING curation ingest, batch twin -----------------------
    // The EXACT Streams.curationIngest composition the streaming path
    // runs per micro-batch (StreamingSpec drives the MemoryStream +
    // upsertSink version incl. restart): C4 segment cleaning -> Gopher
    // rule gate on the CLEANED text -> per-row classifier gate
    // (score >= 0.5 — engine-exact: the sigmoid crosses 0.5 exactly at
    // integer w_sum = 0, replayed here as w_sum >= 0) -> fingerprint
    // dedup (batch: deterministic earliest-id wins; streaming:
    // first-arrival-within-watermark, the same answer when arrival
    // follows event time).
    QDef.sql(
      "ext_stream_curation",
      s"""WITH cl0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |         string_split(lower(text), ' ') AS wsl
         |  FROM documents
         |),
         |cl1 AS (
         |  SELECT doc_id, ws, wsl, CAST(len(ws) AS BIGINT) AS n,
         |         CAST(ceil(len(ws) / 10.0) AS BIGINT) AS nseg
         |  FROM cl0
         |),
         |cl2 AS (
         |  SELECT doc_id, ws, nseg AS n_total,
         |$duckC4KeepIdx
         |  FROM cl1
         |),
         |cl AS (
         |  SELECT doc_id, CAST(len(keep_idx) AS BIGINT) AS n_kept,
         |    array_to_string(list_transform(keep_idx, i ->
         |      array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')), ' ')
         |      AS tc
         |  FROM cl2 WHERE len(keep_idx) >= 3
         |),
         |gk AS (
         |  SELECT doc_id, n_kept, tc FROM (
         |    SELECT doc_id, n_kept, tc,
         |      CAST(len(ws) AS BIGINT) AS n_words,
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(ws, w -> CAST(length(w) AS BIGINT))),
         |        (a, x) -> a + x) AS sum_len,
         |      length(tc) - length(replace(tc, '#', '')) AS n_hash,
         |      (length(tc) - length(replace(tc, '...', ''))) / 3 AS n_ell,
         |      CAST(len(lines) AS BIGINT) AS n_lines,
         |      len(list_filter(lines, l -> starts_with(l, '- ')
         |        OR starts_with(l, '* ') OR starts_with(l, '• '))) AS n_bul,
         |      len(list_filter(lines, l -> ends_with(l, '...'))) AS n_end,
         |      len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
         |        AS n_al,
         |      CAST(len(list_filter(
         |        ['the','be','to','of','and','that','have','with'],
         |        t -> list_contains(wsl, t))) AS BIGINT) AS n_stop
         |    FROM (
         |      SELECT doc_id, n_kept, tc, string_split(tc, ' ') AS ws,
         |             string_split(lower(tc), ' ') AS wsl,
         |             string_split(tc, chr(10)) AS lines
         |      FROM cl
         |    )
         |  )
         |  WHERE coalesce(n_words >= 40 AND n_words <= 100000
         |    AND CAST(sum_len AS DOUBLE) / n_words >= 3.0
         |    AND CAST(sum_len AS DOUBLE) / n_words <= 10.0
         |    AND CAST(n_hash + n_ell AS DOUBLE) / n_words <= 0.1
         |    AND CAST(n_bul AS DOUBLE) / n_lines <= 0.9
         |    AND CAST(n_end AS DOUBLE) / n_lines <= 0.3
         |    AND CAST(n_al AS DOUBLE) / n_words >= 0.8
         |    AND n_stop >= 1, false)
         |),
         |$duckClassifierWeights,
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |         CAST(sum(coalesce(wt.w, 0)) AS BIGINT) AS w_sum
         |  FROM (
         |    SELECT doc_id, ${duckHash("tok")} % 1024 AS bucket
         |    FROM (SELECT doc_id, unnest(string_split(lower(tc), ' ')) AS tok
         |          FROM gk)
         |  ) hb
         |  LEFT JOIN wt USING (bucket) GROUP BY 1
         |),
         |sc AS (
         |  SELECT gk.doc_id, gk.n_kept,
         |    1.0 / (1.0 + exp(-(CAST(a.w_sum AS DOUBLE) / 1000.0
         |                       / a.n_tokens))) AS score,
         |    ${duckHash("regexp_replace(trim(lower(gk.tc)), '\\s+', ' ', 'g')")}
         |      AS fp
         |  FROM gk JOIN agg a USING (doc_id)
         |  WHERE a.w_sum >= 0
         |)
         |SELECT doc_id, n_kept, round(score, 6) AS score, fp
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val weights = (0 until 1024).map(i =>
        i.toLong -> ((i.toLong * 1103515245L + 12345L) % 2001L - 1000L))
        .toMap
      graft.streaming.Streams.curationIngest(
        t(s, dir, "documents").withColumn("ts",
          timestamp_seconds(lit(1704067200L) + col("doc_id"))),
        "doc_id", "text", "ts", weights, nBuckets = 1024, minScore = 0.5,
        minWords = 40, minStopwords = 1)
        .select(col("doc_id"), col("n_kept"),
          round(col("score"), 6).as("score"), col("fp"))
        .orderBy("doc_id")
    },

    // ----- TRAINED classifier: in-engine GD + inference (closed loop) --
    // Train the hashed-presence logistic model on seed sets (pos =
    // src0, neg = src1) with 3 rounds of full-batch hard-sigmoid
    // gradient descent — every training step engine-exact integer /
    // IEEE arithmetic — then score ALL documents through the LT18
    // inference slot with the trained weights. The oracle replays the
    // ENTIRE training loop (3 unrolled rounds) plus the scoring pass;
    // w_sum is the integer-exact signal.
    QDef.sql(
      "llm_classifier_train", {
        val nb = 256
        val rounds = (1 to 3).map { k =>
          s"""z$k AS (
             |  SELECT f.y, f.doc_id, nd.n, CAST(sum(wr${k - 1}.w) AS BIGINT) AS zn
             |  FROM f JOIN wr${k - 1} USING (bucket)
             |         JOIN nd ON nd.y = f.y AND nd.doc_id = f.doc_id
             |  GROUP BY 1, 2, 3
             |),
             |e$k AS (
             |  SELECT y, doc_id,
             |    CAST(round(greatest(0.0, least(1.0,
             |      0.5 + zn / (4194304.0 * n))) * 1048576) AS BIGINT)
             |      - y * 1048576 AS e
             |  FROM z$k
             |),
             |g$k AS (
             |  SELECT bucket, CAST(sum(e) AS BIGINT) AS g
             |  FROM f JOIN e$k ON e$k.y = f.y AND e$k.doc_id = f.doc_id
             |  GROUP BY 1
             |),
             |wr$k AS (
             |  SELECT w.bucket, w.w - coalesce(g.g, 0) * 1 // 4096 AS w
             |  FROM wr${k - 1} w LEFT JOIN g$k g USING (bucket)
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH lab AS (
           |  SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS y,
           |         doc_id, text
           |  FROM documents WHERE source IN ('src0', 'src1')
           |),
           |f AS (
           |  SELECT DISTINCT y, doc_id, ${duckHash("tok")} % $nb AS bucket
           |  FROM (SELECT y, doc_id,
           |          unnest(string_split(lower(text), ' ')) AS tok
           |        FROM lab)
           |),
           |nd AS (
           |  SELECT y, doc_id, CAST(count(*) AS BIGINT) AS n
           |  FROM f GROUP BY 1, 2
           |),
           |wr0 AS (
           |  SELECT CAST(i AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS w
           |  FROM generate_series(0, ${nb - 1}) t(i)
           |),
           |$rounds,
           |toks AS (
           |  SELECT doc_id, ${duckHash("tok")} % $nb AS bucket
           |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
           |        FROM documents)
           |),
           |agg AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |         CAST(sum(coalesce(wr3.w, 0)) AS BIGINT) AS w_sum
           |  FROM toks LEFT JOIN wr3 USING (bucket) GROUP BY 1
           |)
           |SELECT doc_id, n_tokens, w_sum,
           |  round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE) / 1048576.0
           |                           / n_tokens))), 6) AS score
           |FROM agg ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val wts = TextOps.classifierTrain(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"),
        "doc_id", "text", nBuckets = 256, iters = 3)
      TextOps.classifierScore(docs, "doc_id", "text", wts,
        nBuckets = 256, scale = 1048576.0, bias = 0.0)
        .orderBy("doc_id")
    },

    // ----- Gopher rule-based quality filter ----------------------------
    // Per-rule flags + the conjunction, on unrounded signals (the
    // rounded columns are the human-audit rendering). Thresholds tuned
    // to the synthetic corpus so both flag polarities occur: minWords
    // 40 (169/500 docs fall short at sf0.01), minStopwords 1.
    QDef.sql(
      "llm_gopher",
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |         string_split(text, ' ') AS ws,
         |         string_split(lower(text), ' ') AS wsl,
         |         string_split(text, chr(10)) AS lines
         |  FROM documents
         |),
         |s AS (
         |  SELECT doc_id,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    list_reduce(
         |      list_prepend(CAST(0 AS BIGINT),
         |        list_transform(ws, w -> CAST(length(w) AS BIGINT))),
         |      (a, x) -> a + x) AS sum_len,
         |    length(text) - length(replace(text, '#', '')) AS n_hash,
         |    (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    len(list_filter(lines, l -> starts_with(l, '- ')
         |      OR starts_with(l, '* ') OR starts_with(l, '• '))) AS n_bul,
         |    len(list_filter(lines, l -> ends_with(l, '...'))) AS n_end,
         |    len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]'))) AS n_al,
         |    CAST(len(list_filter(
         |      ['the','be','to','of','and','that','have','with'],
         |      t -> list_contains(wsl, t))) AS BIGINT) AS n_stop
         |  FROM d
         |),
         |f AS (
         |  SELECT doc_id, n_words, sum_len, n_hash, n_ell, n_lines, n_bul,
         |    n_end, n_al, n_stop,
         |    (n_words >= 40 AND n_words <= 100000) AS r_words,
         |    (CAST(sum_len AS DOUBLE) / n_words >= 3.0
         |      AND CAST(sum_len AS DOUBLE) / n_words <= 10.0) AS r_mean_len,
         |    (CAST(n_hash + n_ell AS DOUBLE) / n_words <= 0.1) AS r_symbol,
         |    (CAST(n_bul AS DOUBLE) / n_lines <= 0.9) AS r_bullet,
         |    (CAST(n_end AS DOUBLE) / n_lines <= 0.3) AS r_ellipsis,
         |    (CAST(n_al AS DOUBLE) / n_words >= 0.8) AS r_alpha,
         |    (n_stop >= 1) AS r_stop
         |  FROM s
         |)
         |SELECT doc_id, n_words,
         |  round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
         |  round(CAST(n_hash + n_ell AS DOUBLE) / n_words, 6) AS symbol_ratio,
         |  round(CAST(n_bul AS DOUBLE) / n_lines, 6) AS bullet_frac,
         |  round(CAST(n_end AS DOUBLE) / n_lines, 6) AS ellipsis_frac,
         |  round(CAST(n_al AS DOUBLE) / n_words, 6) AS alpha_frac,
         |  n_stop, r_words, r_mean_len, r_symbol, r_bullet, r_ellipsis,
         |  r_alpha, r_stop,
         |  coalesce(r_words AND r_mean_len AND r_symbol AND r_bullet
         |    AND r_ellipsis AND r_alpha AND r_stop, false) AS keep
         |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.gopherRules(t(s, dir, "documents"), "doc_id", "text",
        minWords = 40, minStopwords = 1)
        .orderBy("doc_id")
    },

    // ----- C4-style segment cleaning (keep-rules + doc minimum) --------
    // Word-window segment unit (the corpus has no line structure);
    // segments shorter than minSegWords or carrying a blacklisted token
    // are cut, documents keeping fewer than minSegs segments drop.
    QDef.sql(
      "llm_c4_clean",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |         string_split(lower(text), ' ') AS wsl
         |  FROM documents
         |),
         |c AS (
         |  SELECT doc_id, ws, wsl, CAST(len(ws) AS BIGINT) AS n,
         |         CAST(ceil(len(ws) / 10.0) AS BIGINT) AS nseg
         |  FROM d
         |),
         |k AS (
         |  SELECT doc_id, ws, nseg AS n_total,
         |$duckC4KeepIdx
         |  FROM c
         |)
         |SELECT doc_id, n_total, CAST(len(keep_idx) AS BIGINT) AS n_kept,
         |  array_to_string(list_transform(keep_idx, i ->
         |    array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')), ' ')
         |    AS text_clean
         |FROM k WHERE len(keep_idx) >= 3 ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        TextOps.c4Clean(t(s, dir, "documents"), "doc_id", "text",
          window = 10, minSegWords = 5, minSegs = 3)
          .orderBy("doc_id")
    },

    // ----- Gopher repetition battery (top/dup n-gram char coverage) ----
    // top_{2,3,4}gram_frac = dominant n-gram coverage max(c·len)/chars;
    // dup_{5..10}gram_frac = repeated-n-gram coverage Σ_{c≥2}(c·len)/
    // chars; keep = all at/under the Gopher thresholds. Flags computed
    // on unrounded fractions in BOTH engines.
    QDef.sql(
      "llm_gopher_rep",
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ws,
         |         CAST(length(text) AS BIGINT) AS chars
         |  FROM documents
         |),
         |hw AS (
         |  SELECT doc_id, chars,
         |    list_transform(ws, w -> ${duckHash("w")}) AS whl,
         |    list_transform(ws, w -> CAST(length(w) AS BIGINT)) AS wll,
         |    len(ws) AS nw
         |  FROM d
         |),
         |e AS (
         |  SELECT doc_id, chars, whl, wll, nw,
         |         unnest(generate_series(2, 10)) AS n
         |  FROM hw
         |),
         |e2 AS (
         |  SELECT doc_id, chars, whl, wll, n,
         |         unnest(generate_series(0, nw - n)) AS i
         |  FROM e WHERE nw >= n
         |),
         |g AS (
         |  SELECT doc_id, chars, n,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), whl[i + 1 : i + n]),
         |      (a, x) -> (a * 31 + x) % 1000000007) AS h,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), wll[i + 1 : i + n]),
         |      (a, x) -> a + x) + (n - 1) AS l
         |  FROM e2
         |),
         |c AS (
         |  SELECT doc_id, chars, n, h,
         |    CAST(count(*) AS BIGINT) AS c,
         |    CAST(max(l) AS BIGINT) AS l
         |  FROM g GROUP BY 1, 2, 3, 4
         |),
         |p AS (
         |  SELECT doc_id, chars, n,
         |    CAST(max(c * l) AS BIGINT) AS top_cov,
         |    CAST(coalesce(sum(CASE WHEN c >= 2 THEN c * l END),
         |                  0) AS BIGINT) AS dup_cov
         |  FROM c GROUP BY 1, 2, 3
         |),
         |f AS (
         |  SELECT doc_id, chars,
         |    coalesce(max(CASE WHEN n = 2 THEN top_cov END), 0) AS t2,
         |    coalesce(max(CASE WHEN n = 3 THEN top_cov END), 0) AS t3,
         |    coalesce(max(CASE WHEN n = 4 THEN top_cov END), 0) AS t4,
         |    coalesce(max(CASE WHEN n = 5 THEN dup_cov END), 0) AS d5,
         |    coalesce(max(CASE WHEN n = 6 THEN dup_cov END), 0) AS d6,
         |    coalesce(max(CASE WHEN n = 7 THEN dup_cov END), 0) AS d7,
         |    coalesce(max(CASE WHEN n = 8 THEN dup_cov END), 0) AS d8,
         |    coalesce(max(CASE WHEN n = 9 THEN dup_cov END), 0) AS d9,
         |    coalesce(max(CASE WHEN n = 10 THEN dup_cov END), 0) AS d10
         |  FROM p GROUP BY 1, 2
         |)
         |SELECT d.doc_id,
         |  -- integer-exact HALF-UP rounding, tie-definite (a real sf1
         |  -- tie at 0.0640625 split the engines' round(double, 6))
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(t2, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(t2, 0) / CAST(d.chars AS DOUBLE), 6) END AS top_2gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(t3, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(t3, 0) / CAST(d.chars AS DOUBLE), 6) END AS top_3gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(t4, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(t4, 0) / CAST(d.chars AS DOUBLE), 6) END AS top_4gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d5, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d5, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_5gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d6, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d6, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_6gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d7, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d7, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_7gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d8, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d8, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_8gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d9, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d9, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_9gram_frac,
         |  CASE WHEN d.chars > 0 THEN CAST((2000000 * coalesce(d10, 0) + d.chars)
         |    // (2 * d.chars) AS DOUBLE) / 1000000.0
         |    ELSE round(coalesce(d10, 0) / CAST(d.chars AS DOUBLE), 6) END AS dup_10gram_frac,
         |  coalesce(
         |    coalesce(t2, 0) / CAST(d.chars AS DOUBLE) <= 0.20
         |    AND coalesce(t3, 0) / CAST(d.chars AS DOUBLE) <= 0.18
         |    AND coalesce(t4, 0) / CAST(d.chars AS DOUBLE) <= 0.16
         |    AND coalesce(d5, 0) / CAST(d.chars AS DOUBLE) <= 0.15
         |    AND coalesce(d6, 0) / CAST(d.chars AS DOUBLE) <= 0.14
         |    AND coalesce(d7, 0) / CAST(d.chars AS DOUBLE) <= 0.13
         |    AND coalesce(d8, 0) / CAST(d.chars AS DOUBLE) <= 0.12
         |    AND coalesce(d9, 0) / CAST(d.chars AS DOUBLE) <= 0.11
         |    AND coalesce(d10, 0) / CAST(d.chars AS DOUBLE) <= 0.10,
         |    false) AS keep
         |FROM d LEFT JOIN f USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      TextOps.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- DSIR importance resampling (target-matched data selection) --
    // Target = src0 documents; raw = the rest. Hashed unigram LMs,
    // add-one smoothing, per-bucket weight = fixed-point log2-ratio
    // (engine-portable: the log2 is the IEEE-exact digit-extraction
    // fold, NOT libm), per-doc score = order-independent BIGINT sum,
    // selection = deterministic top-100 by (score, doc_id).
    QDef.sql(
      "llm_dsir",
      s"""WITH ${duckDsirUnigrams("text", "documents")},
         |${duckDsirTopKSql(100)}""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir, "documents")
        val target = docs.filter(col("source") === "src0")
        val raw = docs.filter(col("source") =!= "src0")
        val wts = TextOps.dsirWeights(target, raw, "text", nBuckets = 512)
        TextOps.dsirTopK(
          TextOps.dsirScores(raw, "doc_id", "text", wts, nBuckets = 512),
          "doc_id", k = 100)
    },

    // ----- DSIR with hashed-BIGRAM features (the paper's featurizer) ---
    // Same pipeline as llm_dsir with n=2 word-shingle features:
    // context-sensitive selection ("bank loan" and "river bank" stop
    // aliasing into one bucket).
    QDef.sql(
      "llm_dsir2",
      s"""WITH dd AS (
         |  SELECT doc_id, source, string_split(lower(text), ' ') AS ws
         |  FROM documents
         |),
         |bg AS (
         |  SELECT doc_id, source,
         |         unnest(generate_series(0, len(ws) - 2)) AS i, ws
         |  FROM dd WHERE len(ws) >= 2
         |),
         |ft AS (
         |  SELECT doc_id, source,
         |    ${duckHash("ws[i + 1] || ' ' || ws[i + 2]")} % 512 AS bucket
         |  FROM bg
         |),
         |bt AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
         |  FROM ft WHERE source = 'src0' GROUP BY 1
         |),
         |rt AS (
         |  SELECT doc_id, bucket FROM ft WHERE source <> 'src0'
         |),
         |${duckDsirTopKSql(100, "ft2")}""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir, "documents")
        val target = docs.filter(col("source") === "src0")
        val raw = docs.filter(col("source") =!= "src0")
        val wts = TextOps.dsirWeights(target, raw, "text",
          nBuckets = 512, featureNgrams = 2)
        TextOps.dsirTopK(
          TextOps.dsirScores(raw, "doc_id", "text", wts,
            nBuckets = 512, featureNgrams = 2),
          "doc_id", k = 100)
    },

    // ----- Modern-curation composition (the round-11 stages chained) ---
    // C4 segment cleaning → Gopher rule gate (on the CLEANED text) →
    // DSIR top-k selection against the src0 target — the published
    // pretraining-curation recipe as ONE dataflow. Each stage's oracle
    // replay already exists standalone; this chains them end-to-end so
    // a stage-boundary bug (wrong column, wrong order of filters,
    // text/target mismatch) cannot hide.
    QDef.sql(
      "llm_curation2_e2e",
      s"""WITH dd AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS ws,
         |         string_split(lower(text), ' ') AS wsl
         |  FROM documents
         |),
         |cc AS (
         |  SELECT doc_id, source, ws, wsl, CAST(len(ws) AS BIGINT) AS n,
         |         CAST(ceil(len(ws) / 10.0) AS BIGINT) AS nseg
         |  FROM dd
         |),
         |ck AS (
         |  SELECT doc_id, source,
         |$duckC4KeepIdx,
         |    ws
         |  FROM cc
         |),
         |cl AS (
         |  SELECT doc_id, source,
         |    array_to_string(list_transform(keep_idx, i ->
         |      array_to_string(ws[i * 10 + 1 : i * 10 + 10], ' ')), ' ')
         |      AS tc
         |  FROM ck WHERE len(keep_idx) >= 3
         |),
         |gs AS (
         |  SELECT doc_id, source, tc,
         |    string_split(tc, ' ') AS cws,
         |    string_split(lower(tc), ' ') AS cwsl,
         |    string_split(tc, chr(10)) AS clines
         |  FROM cl
         |),
         |gk AS (
         |  SELECT doc_id, source, tc FROM gs
         |  WHERE CAST(len(cws) AS BIGINT) BETWEEN 40 AND 100000
         |    AND CAST(list_reduce(
         |          list_prepend(CAST(0 AS BIGINT),
         |            list_transform(cws, w -> CAST(length(w) AS BIGINT))),
         |          (a, x) -> a + x) AS DOUBLE) / len(cws) BETWEEN 3.0 AND 10.0
         |    AND CAST(length(tc) - length(replace(tc, '#', ''))
         |          + (length(tc) - length(replace(tc, '...', ''))) / 3
         |          AS DOUBLE) / len(cws) <= 0.1
         |    AND CAST(len(list_filter(clines, l -> starts_with(l, '- ')
         |          OR starts_with(l, '* ') OR starts_with(l, '• ')))
         |          AS DOUBLE) / len(clines) <= 0.9
         |    AND CAST(len(list_filter(clines, l -> ends_with(l, '...')))
         |          AS DOUBLE) / len(clines) <= 0.3
         |    AND CAST(len(list_filter(cws, w ->
         |          regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
         |          / len(cws) >= 0.8
         |    AND len(list_filter(
         |          ['the','be','to','of','and','that','have','with'],
         |          t -> list_contains(cwsl, t))) >= 1
         |),
         |${duckDsirUnigrams("tc", "gk")},
         |${duckDsirTopKSql(150)}""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir, "documents")
        val cleaned = TextOps.c4Clean(docs, "doc_id", "text",
          window = 10, minSegWords = 5, minSegs = 3)
          .select(col("doc_id"), col("text_clean").as("tc"))
        // Pin BEFORE the gate: gopherKeep references the cleaned text
        // ~10 times, and CollapseProject would inline the full C4
        // reassembly expression into every reference (the LD14
        // optimizer hazard — measured 6.4 s for the filter alone);
        // against a materialized column it is one cheap per-row pass.
        val shaped = Pin.checkpoint(docs.select(col("doc_id"), col("source"))
          .join(cleaned, Seq("doc_id")), eager = true)
        // The gate is a plain per-row filter, not a report+semi-join —
        // ONE evaluation — and the gated frame is pinned too (same
        // discipline as llm_curation_e2e): the DSIR stage reads it
        // from four consumers (target/raw counts, totals, scores).
        // Measured at sf0.1: 10.2 s unpinned+semi-join, 7.4 s with
        // only the post-gate pin, 2.6 s with this shape.
        val kept = Pin.checkpoint(shaped
          .filter(TextOps.gopherKeep(col("tc"),
            minWords = 40, minStopwords = 1)), eager = true)
        val target = kept.filter(col("source") === "src0")
        val raw = kept.filter(col("source") =!= "src0")
        val wts = TextOps.dsirWeights(target, raw, "tc", nBuckets = 512)
        TextOps.dsirTopK(
          TextOps.dsirScores(raw, "doc_id", "tc", wts, nBuckets = 512),
          "doc_id", k = 150)
    },

    // ----- End-to-end curation pipeline (the production composition) ---
    // boilerplate-strip → langid+quality filter → exact dedup →
    // MinHash-CC near-dedup → stratified mix → holdout split, composed
    // as one dataflow: the non-iterative prefix fuses into a single
    // plan pinned ONCE (both the pair generation and the final
    // keep-join read that checkpoint — the corpus-sized text is never
    // recomputed), the CC loop is the only iterative stage, and
    // everything after it is shuffle-free per-row hashing. Mirrors how
    // the stages would actually chain on a 100 TB corpus.
    QDef.sql(
      "llm_curation_e2e",
      s"""WITH RECURSIVE w0 AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |),
         |c0 AS (
         |  SELECT doc_id, ws,
         |    CASE WHEN len(ws) <= 3 THEN 1
         |         ELSE ((len(ws) - 3 + 2) // 3) + 1 END AS nc
         |  FROM w0
         |),
         |e0 AS (
         |  SELECT doc_id, ws, unnest(generate_series(0, nc - 1)) AS chunk_idx
         |  FROM c0
         |),
         |g0 AS (
         |  SELECT doc_id, chunk_idx,
         |    array_to_string(ws[chunk_idx * 3 + 1 : chunk_idx * 3 + 3], ' ')
         |      AS seg
         |  FROM e0
         |),
         |hs0 AS (
         |  SELECT doc_id, chunk_idx, seg, ${duckHash("seg")} AS h FROM g0
         |),
         |d0 AS (
         |  SELECT h, count(DISTINCT doc_id) AS df FROM hs0 GROUP BY 1
         |),
         |bp AS (
         |  SELECT hs0.doc_id,
         |         coalesce(string_agg(CASE WHEN d0.df < 5 THEN hs0.seg END,
         |                             ' ' ORDER BY hs0.chunk_idx), '')
         |           AS tc
         |  FROM hs0 JOIN d0 USING (h)
         |  GROUP BY 1
         |),
         |scored AS (
         |  SELECT doc_id, tc,
         |    CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
         |         WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'
         |         WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
         |         WHEN c_fr > 0 THEN 'fr'
         |         ELSE 'und' END AS lang_pred,
         |    round(CASE WHEN length(tc) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(ws) AS BIGINT) / 50.0) * 0.4
         |        + (CAST(${duckStopCount(TextOps.StopEn)} AS DOUBLE)
         |           / CAST(len(ws) AS BIGINT)) * 0.3
         |        + (1.0 - CAST(length(regexp_replace(lower(tc), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |           / length(tc)) * 0.3 END, 6) AS quality
         |  FROM (
         |    SELECT doc_id, tc, ws,
         |      ${duckStopCount(TextOps.StopEn)} AS c_en,
         |      ${duckStopCount(TextOps.StopDe)} AS c_de,
         |      ${duckStopCount(TextOps.StopEs)} AS c_es,
         |      ${duckStopCount(TextOps.StopFr)} AS c_fr
         |    FROM (SELECT doc_id, tc, string_split(lower(tc), ' ') AS ws FROM bp)
         |  )
         |),
         |filt AS (
         |  SELECT * FROM scored WHERE lang_pred != 'und' AND quality >= 0.3
         |),
         |exact AS (
         |  SELECT doc_id, tc, lang_pred, quality
         |  FROM (
         |    SELECT *, ${duckHash("regexp_replace(trim(__lt), '\\s+', ' ', 'g')")} AS fp
         |    FROM (SELECT doc_id, lower(tc) AS __lt, tc, lang_pred, quality FROM filt)
         |  )
         |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
         |),
         |cws AS (
         |  SELECT doc_id, string_split(lower(tc), ' ') AS ws FROM exact
         |),
         |${DuckSql.duckWordShingles("csh", "cws")},
         |chashed AS (
         |  SELECT DISTINCT doc_id, ${duckHash("s")} AS h FROM csh
         |),
         |${DuckSql.duckMinHashBands("chashed")},
         |${DuckSql.duckBandPairs("prs")},
         |${DuckSql.duckCcReach("exact", "cedges")},
         |canon AS (
         |  SELECT doc_id, min(label) AS comp FROM reach GROUP BY doc_id
         |),
         |kept AS (
         |  SELECT x.doc_id, x.lang_pred, x.quality
         |  FROM exact x JOIN canon ON canon.doc_id = x.doc_id
         |  WHERE canon.comp = x.doc_id
         |),
         |mixed AS (
         |  SELECT doc_id, lang_pred, quality
         |  FROM kept
         |  WHERE ${duckMixBucket("lang_pred || ':' || CAST(doc_id AS VARCHAR)")}
         |    < CASE lang_pred WHEN 'en' THEN 9000 WHEN 'de' THEN 8000
         |                     WHEN 'es' THEN 7000 WHEN 'fr' THEN 6000
         |                     ELSE 5000 END
         |)
         |SELECT doc_id, lang_pred, quality,
         |  CASE WHEN ${duckMixBucket("'split:' || CAST(doc_id AS VARCHAR)")} < 9000 THEN 'train'
         |       WHEN ${duckMixBucket("'split:' || CAST(doc_id AS VARCHAR)")} < 9500 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM mixed ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val bp = TextOps.stripBoilerplate(docs, "doc_id", "text",
        window = 3, minDf = 5)
        .select(col("doc_id"), col("text_clean").as("tc"))
      val scored = bp
        .withColumn("lang_pred", TextOps.langId(col("tc")))
        .withColumn("quality", round(TextOps.qualityScore(col("tc")), 6))
        .filter(col("lang_pred") =!= "und" && col("quality") >= 0.3)
      // exact dedup on the normalized-clean-text fingerprint, min-id wins
      // same normalization as TextOps.fingerprints: lower, trim, collapse
      val exact = scored
        .withColumn("fp", LlmOps.strHash(
          regexp_replace(trim(graft.functions.GraftLower.lower(col("tc"))), "\\s+", " ")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("__rn") === 1)
        .select("doc_id", "tc", "lang_pred", "quality")
      // Pin the fused prefix ONCE: the CC pair generation AND the final
      // keep-join both read this frame — without the pin the whole
      // boilerplate+filter+dedup prefix would recompute per consumer.
      val pinned = Pin.checkpoint(exact, eager = true)
      val labels = LlmOps.dedupGroups(pinned, "doc_id",
        LlmOps.minHashCandidatePairs(pinned, "doc_id", "tc"))
      val kept = pinned.join(
        labels.filter(col("doc_id") === col("canonical_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val mixed = TextOps.stratifiedSample(kept, "doc_id", col("lang_pred"),
        Map("en" -> 0.9, "de" -> 0.8, "es" -> 0.7, "fr" -> 0.6),
        defaultRate = 0.5)
      TextOps.holdoutSplit(mixed, "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "lang_pred", "quality", "split")
        .orderBy("doc_id")
    })
}
