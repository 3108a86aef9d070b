package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.LlmOps
import Tables.t

/** Harness queries for the LLM-training-data operators (LlmOps): near-dup
  * detection and embedding similarity search, each hash-compared against a
  * DuckDB oracle that reproduces the exact same deterministic arithmetic
  * (char-fold polynomial hash, sequential double folds — see LlmOps).
  *
  * The shared hash in DuckDB form (mirrors LlmOps.strHash):
  * list_reduce over the string's chars, acc = (acc*31 + ascii) % 1e9+7.
  */
object LlmQueries {

  import DuckSql.{duckBandPairs, duckCcReach, duckFold, duckHash, duckMinHashBands,
    duckShingleHashes}

  /** Memoized CC labels per (session, dir): a real curation pipeline
    * materializes the cluster labeling ONCE and every downstream pass
    * (keep-best re-pointing, filtering, reporting) reuses it. The
    * harness models that split explicitly:
    *   - `llm_dedup_groups` ALWAYS computes CC fresh — it is the
    *     producer benchmark and keeps the iterative-CC cost visible in
    *     every bench run;
    *   - `llm_dedup_best` consumes the memo (computing it on first
    *     use) — it is the reuse-consumer benchmark and measures the
    *     incremental keyed-window + join cost a pipeline actually pays
    *     on top of existing labels.
    * The memoized frame is backed by the CC loop's final
    * localCheckpoint, so later scans are cheap block reads; the labels
    * are (doc_id, canonical_id) only — negligible block footprint.
    *
    * STALENESS CONTRACT: the memo is keyed by (session, dir) and never
    * invalidated — it assumes the parquet under `dir` is immutable for
    * the session (true for the harness testdata and the normal
    * immutable-snapshot layout). If data under `dir` is rewritten
    * within a session, consumers see the labels of the FIRST read; use
    * a fresh session (or a new dir, e.g. a versioned snapshot path) to
    * re-label. Concurrent first use is race-safe: the memo holds one
    * lazy cell per key, so CC runs once and no loser's checkpoint is
    * left pinned. */
  private final class LabelCell(s: org.apache.spark.sql.SparkSession, dir: String) {
    lazy val labels: org.apache.spark.sql.DataFrame = {
      val docs = t(s, dir, "documents")
      LlmOps.dedupGroups(docs, "doc_id",
        LlmOps.minHashCandidatePairs(docs, "doc_id", "text"))
    }
  }
  private val ccLabelMemo = new scala.collection.concurrent.TrieMap[
    (org.apache.spark.sql.SparkSession, String), LabelCell]

  private def memoizedLabels(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    ccLabelMemo.getOrElseUpdate((s, dir), new LabelCell(s, dir)).labels

  /** One k-means round in DuckDB, mirroring LlmOps.kmeansCentroids:
    * assign every vector to its argmax-cosine centroid (id tiebreak),
    * recompute each cell's centroid as the per-dimension mean, and keep
    * the previous centroid for cells that lost all members. */
  private def kmeansIterCte(inCents: String, outCents: String, tag: String): String =
    s"""cw_$tag AS (
       |  SELECT cid, ce,
       |    ${duckFold("list_transform(generate_series(1,64), i -> ce[i] * ce[i])")} AS cnrm
       |  FROM $inCents
       |),
       |asg_$tag AS (
       |  SELECT vec_id, e, cell
       |  FROM (
       |    SELECT v.vec_id, v.e, c.cid AS cell,
       |      ${duckFold("list_transform(generate_series(1,64), i -> v.e[i] * c.ce[i])")}
       |        / (sqrt(v.nrm) * sqrt(c.cnrm)) AS ccos
       |    FROM v, cw_$tag c
       |    WHERE v.nrm > 0
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
       |),
       |mean_$tag AS (
       |  SELECT cell, g.i AS i, avg(e[g.i]) AS m
       |  FROM asg_$tag, generate_series(1, 64) AS g(i)
       |  GROUP BY cell, g.i
       |),
       |pack_$tag AS (
       |  SELECT cell AS cid, list(m ORDER BY i) AS ce FROM mean_$tag GROUP BY cell
       |),
       |$outCents AS (
       |  SELECT p.cid, coalesce(q.ce, p.ce) AS ce
       |  FROM $inCents p LEFT JOIN pack_$tag q ON p.cid = q.cid
       |)""".stripMargin

  /** `sizes(doc_id, n)` shingle counts and `inter(doc_a, doc_b, i)`
    * shared-shingle counts over `hashed`: the exact-Jaccard inputs. */
  private val duckSharedShingles: String =
    """sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** `$name(vec_id, $col)`: the embeddings as DOUBLE arrays. */
  private def duckEmb(name: String, col: String = "e"): String =
    s"""$name AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS $col
       |  FROM embeddings
       |)""".stripMargin

  /** `v(vec_id, e, nrm)`: the embeddings as doubles with their
    * dimension-order squared norm; zero vectors stay. */
  private val duckVecNrm: String =
    s"""v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |         ${duckFold("list_transform(generate_series(1,64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")} AS nrm
       |  FROM embeddings
       |)""".stripMargin

  /** `cents(cid, ce, cnrm)`: the seeded IVF codebook (iters = 0), the
    * first 8 nonzero vectors of `v`. */
  private val duckSeedCents: String =
    s"""cents AS (
       |  SELECT vec_id AS cid, e AS ce,
       |    ${duckFold("list_transform(generate_series(1,64), i -> e[i] * e[i])")} AS cnrm
       |  FROM v WHERE vec_id < 8 AND nrm > 0
       |)""".stripMargin

  /** Rows (`sel`, ccos): every nonzero `v` against every `cents`
    * centroid by cosine, the candidates of the coarse IVF assignment. */
  private def duckCentroidCos(sel: String): String =
    s"""    SELECT $sel,
       |      ${duckFold("list_transform(generate_series(1,64), i -> v.e[i] * c.ce[i])")}
       |        / (sqrt(v.nrm) * sqrt(c.cnrm)) AS ccos
       |    FROM v, cents c
       |    WHERE v.nrm > 0""".stripMargin

  /** `assign(vec_id, carry..., cell)`: each nonzero vector's
    * argmax-cosine centroid, id tiebreak (LlmOps.annTopKIvf). */
  private def duckIvfAssign(carry: Seq[String] = Nil): String = {
    val outer = ("vec_id" +: carry :+ "cid AS cell").mkString(", ")
    val inner = (("vec_id" +: carry).map("v." + _) :+ "c.cid").mkString(", ")
    s"""assign AS (
       |  SELECT $outer
       |  FROM (
       |${duckCentroidCos(inner)}
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) = 1
       |)""".stripMargin
  }

  /** The trained-IVF prefix of llm_ann_ivf and llm_semantic_dedup:
    * `v`, seeded init plus 2 k-means rounds, the final `cents` and
    * `assign(vec_id, e, nrm, cell)`. */
  private val duckTrainedIvf: String =
    s"""$duckVecNrm,
       |cents_0 AS (
       |  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8 AND nrm > 0
       |),
       |${kmeansIterCte("cents_0", "cents_1", "t1")},
       |${kmeansIterCte("cents_1", "cents_2", "t2")},
       |cents AS (
       |  SELECT cid, ce,
       |    ${duckFold("list_transform(generate_series(1,64), i -> ce[i] * ce[i])")} AS cnrm
       |  FROM cents_2
       |),
       |${duckIvfAssign(Seq("e", "nrm"))}""".stripMargin

  /** The IVF-PQ prefix: `v`, the seeded `cents` and each nonzero
    * vector's home cell `assign(vec_id, cell)`. */
  private val duckIvfPqPrefix: String =
    s"""$duckVecNrm,
       |$duckSeedCents,
       |assign AS (
       |  SELECT vec_id, cell
       |  FROM (
       |${duckCentroidCos("v.vec_id, c.cid AS cell")}
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) = 1
       |)""".stripMargin

  /** Final select of the top `k` candidates per probe from
    * `scored(probe_id, cand_id, extra..., cos)`. */
  private def duckCosTopK(k: Int, extra: String = ""): String =
    s"""SELECT probe_id, cand_id, ${extra}round(cos, 6) AS cosine
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) <= $k
       |ORDER BY probe_id, cosine DESC, cand_id""".stripMargin

  /** Symmetric int8 quantization (LlmOps.quantizeInt8): `m(vec_id, v)`,
    * the per-vector max |x| `s`, and `qz(vec_id, q)`; `keepMx` also
    * carries `mx` into `qz`. */
  private def duckQuantCtes(keepMx: Boolean = false): String =
    s"""${duckEmb("m", "v")},
       |s AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
       |                (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS mx
       |  FROM m
       |),
       |qz AS (
       |  SELECT vec_id,${if (keepMx) " mx," else ""}
       |    list_transform(v, x -> CAST(round(
       |      x * (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END)) AS BIGINT))
       |      AS q
       |  FROM s
       |)""".stripMargin

  /** `n(vec_id, q, n2)`: the nonzero quantized vectors with their
    * integer squared norm. */
  private val duckQuantNorm: String =
    """n AS (
      |  SELECT vec_id, q,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS n2
      |  FROM qz
      |  WHERE n2 > 0
      |)""".stripMargin

  /** `m0` and `v(vec_id, e, nrm)`: the nonzero embeddings that the
    * global PQ oracles encode. */
  private val duckPqVec: String =
    s"""${duckEmb("m0")},
       |v AS (
       |  SELECT vec_id, e,
       |    list_reduce(list_prepend(0.0, list_transform(e, x -> x * x)),
       |                (a, b) -> a + b) AS nrm
       |  FROM m0 WHERE nrm > 0
       |)""".stripMargin

  /** `code(vec_id, j, rnk)`: each subvector's nearest `cj` centroid,
    * rank tiebreak. */
  private val duckPqCode: String =
    """code AS (
      |  SELECT vec_id, j, rnk FROM cj
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
      |                             ORDER BY l2, rnk) = 1
      |)""".stripMargin

  /** `anrm(vec_id, anrm)`: the reconstruction norm, folded over the
    * per-subspace `selfd` terms in subspace order. */
  private val duckPqAnrm: String =
    """anrm AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(0.0, list(sd ORDER BY j)),
      |                (a, b) -> a + b) AS anrm
      |  FROM selfd GROUP BY vec_id
      |)""".stripMargin

  /** PQ encode of `v` against the seeded sub-codebooks `cbr(rnk, ce)`
    * (8 subspaces × the first 8 vectors, LlmOps.annTopKPq), ending in
    * `code` and `anrm`. `nrmGuard` skips zero vectors for a `v` that
    * still holds them. */
  private def duckPqEncode(nrmGuard: Boolean = false): String = {
    val (seedGuard, cjGuard) =
      if (nrmGuard) (" AND nrm > 0", "\n  WHERE v.nrm > 0") else ("", "")
    s"""cbr AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS rnk, e AS ce
       |  FROM v WHERE vec_id < 8$seedGuard
       |),
       |cj AS (
       |  SELECT v.vec_id, g.j, c.rnk,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> (v.e[g.j * 8 + i] - c.ce[g.j * 8 + i])
       |         * (v.e[g.j * 8 + i] - c.ce[g.j * 8 + i]))),
       |      (a, b) -> a + b) AS l2
       |  FROM v, generate_series(0, 7) g(j), cbr c$cjGuard
       |),
       |$duckPqCode,
       |selfd AS (
       |  SELECT code.vec_id, code.j,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> c.ce[code.j * 8 + i] * c.ce[code.j * 8 + i])),
       |      (a, b) -> a + b) AS sd
       |  FROM code JOIN cbr c ON c.rnk = code.rnk
       |),
       |$duckPqAnrm""".stripMargin
  }

  /** The global PQ chain through the ADC dots: `duckPqVec`, the
    * encode, and `sc(probe_id, cand_id, adot)` for probes vec_id < 5
    * against every other encoded vector. */
  private val duckPqAdc: String =
    s"""$duckPqVec,
       |${duckPqEncode()},
       |pt AS (
       |  SELECT p.vec_id AS probe_id, code.vec_id AS cand_id, code.j,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> p.e[code.j * 8 + i] * c.ce[code.j * 8 + i])),
       |      (a, b) -> a + b) AS t
       |  FROM v p, code JOIN cbr c ON c.rnk = code.rnk
       |  WHERE p.vec_id < 5 AND code.vec_id != p.vec_id
       |),
       |sc AS (
       |  SELECT probe_id, cand_id,
       |    list_reduce(list_prepend(0.0, list(t ORDER BY j)),
       |                (a, b) -> a + b) AS adot
       |  FROM pt GROUP BY 1, 2
       |)""".stripMargin

  /** `$out(probe_id, cand_id)`: each probe's top `k` by ADC cosine. */
  private def duckPqShortlist(out: String, k: Int): String =
    s"""$out AS (
       |  SELECT probe_id, cand_id
       |  FROM (
       |    SELECT sc.probe_id, sc.cand_id,
       |      adot / (sqrt(p.nrm) * sqrt(a.anrm)) AS c
       |    FROM sc JOIN v p ON p.vec_id = sc.probe_id
       |            JOIN anrm a ON a.vec_id = sc.cand_id
       |    WHERE a.anrm > 0
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY probe_id
       |                             ORDER BY c DESC, cand_id) <= $k
       |)""".stripMargin

  /** `scored` (the `dot` over the probe norm from `probes` and the
    * candidate's reconstruction norm) and the final select of each
    * probe's top `k`; `cell` carries `sc.cell` through. */
  private def duckPqTopK(k: Int, cell: Boolean = false, dot: String = "adot",
      probes: String = "v"): String = {
    val (scCell, outCell) = if (cell) (", sc.cell", "cell, ") else ("", "")
    s"""scored AS (
       |  SELECT sc.probe_id, sc.cand_id$scCell,
       |    $dot / (sqrt(p.nrm) * sqrt(a.anrm)) AS c
       |  FROM sc JOIN $probes p ON p.vec_id = sc.probe_id
       |          JOIN anrm a ON a.vec_id = sc.cand_id
       |  WHERE a.anrm > 0
       |)
       |SELECT probe_id, cand_id, ${outCell}round(c, 6) AS pqcosine
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY probe_id
       |                           ORDER BY c DESC, cand_id) <= $k
       |ORDER BY probe_id, pqcosine DESC, cand_id""".stripMargin
  }

  /** One per-subspace k-means round of PQ codebook training
    * (LlmOps.pqCodebookTrained): assign each subvector of `$src.$col`
    * to its nearest `$cb${r - 1}` centroid, average each (j, rank)
    * cell, and keep the previous centroid of an empty cell, giving
    * `$cb$r`. */
  private def duckPqTrainRound(r: Int, src: String, col: String,
      cb: String): String =
    s"""asg$r AS (
       |  SELECT vec_id, j, rnk FROM (
       |    SELECT $src.vec_id, g.j, c.rnk,
       |      list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |        i -> ($src.$col[g.j * 8 + i] - c.ce[g.j * 8 + i])
       |           * ($src.$col[g.j * 8 + i] - c.ce[g.j * 8 + i]))),
       |        (a, b) -> a + b) AS l2
       |    FROM $src, generate_series(0, 7) g(j), $cb${r - 1} c
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, j
       |                             ORDER BY l2, rnk) = 1
       |),
       |mean$r AS (
       |  SELECT a.j, a.rnk, g.i AS i, avg($src.$col[a.j * 8 + g.i]) AS mv
       |  FROM asg$r a JOIN $src ON $src.vec_id = a.vec_id,
       |       generate_series(1, 8) g(i)
       |  GROUP BY a.j, a.rnk, g.i
       |),
       |pk$r AS (
       |  SELECT j, rnk, list(mv ORDER BY i) AS seg
       |  FROM mean$r GROUP BY j, rnk
       |),
       |$cb$r AS (
       |  SELECT c.rnk,
       |    flatten(list(coalesce(p.seg,
       |      list_transform(generate_series(1, 8),
       |        i -> c.ce[g.j * 8 + i])) ORDER BY g.j)) AS ce
       |  FROM $cb${r - 1} c CROSS JOIN generate_series(0, 7) g(j)
       |  LEFT JOIN pk$r p ON p.rnk = c.rnk AND p.j = g.j
       |  GROUP BY c.rnk
       |)""".stripMargin

  /** The residual IVF-PQ prefix: `duckIvfPqPrefix` plus `rv(vec_id,
    * cell, e, nrm, bce)`, every assigned vector beside its home
    * centroid. */
  private val duckResidualRows: String =
    s"""$duckIvfPqPrefix,
       |rv AS (
       |  SELECT a.vec_id, a.cell, v.e, v.nrm, c.ce AS bce
       |  FROM assign a JOIN v ON v.vec_id = a.vec_id
       |                JOIN cents c ON c.cid = a.cell
       |)""".stripMargin

  /** `$out(rnk, ce)`: a residual sub-codebook seeded from the residuals
    * of vectors 8..15 (vectors 0..7 are the centroids themselves). */
  private def duckResidualSeeds(out: String): String =
    s"""$out AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) AS rnk,
       |    list_transform(generate_series(1, 64), i -> e[i] - bce[i]) AS ce
       |  FROM rv WHERE vec_id >= 8 AND vec_id < 16
       |)""".stripMargin

  /** The residual IVF-PQ tail against sub-codebook `$cb`: residual
    * encode, reconstruction norm |centroid + residual|², probe-centroid
    * dots `pb`, in-cell residual ADC, and the top-3 select. */
  private def duckResidualAdcSql(cb: String): String =
    s"""cj AS (
       |  SELECT rv.vec_id, g.j, c.rnk,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> ((rv.e[g.j * 8 + i] - rv.bce[g.j * 8 + i]) - c.ce[g.j * 8 + i])
       |         * ((rv.e[g.j * 8 + i] - rv.bce[g.j * 8 + i]) - c.ce[g.j * 8 + i]))),
       |      (a, b) -> a + b) AS l2
       |  FROM rv, generate_series(0, 7) g(j), $cb c
       |),
       |$duckPqCode,
       |selfd AS (
       |  SELECT code.vec_id, code.j,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> (rv.bce[code.j * 8 + i] + c.ce[code.j * 8 + i])
       |         * (rv.bce[code.j * 8 + i] + c.ce[code.j * 8 + i]))),
       |      (a, b) -> a + b) AS sd
       |  FROM code JOIN $cb c ON c.rnk = code.rnk
       |            JOIN rv ON rv.vec_id = code.vec_id
       |),
       |$duckPqAnrm,
       |pb AS (
       |  SELECT vec_id, cell, e, nrm,
       |    ${duckFold("list_transform(generate_series(1,64), i -> e[i] * bce[i])")} AS pcd
       |  FROM rv WHERE vec_id < 20
       |),
       |pt AS (
       |  SELECT p.vec_id AS probe_id, ca.vec_id AS cand_id,
       |         p.cell AS cell, code.j,
       |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
       |      i -> p.e[code.j * 8 + i] * c.ce[code.j * 8 + i])),
       |      (a, b) -> a + b) AS t
       |  FROM pb p
       |  JOIN rv ca ON ca.cell = p.cell AND ca.vec_id != p.vec_id
       |  JOIN code ON code.vec_id = ca.vec_id
       |  JOIN $cb c ON c.rnk = code.rnk
       |),
       |sc AS (
       |  SELECT probe_id, cand_id, cell,
       |    list_reduce(list_prepend(0.0, list(t ORDER BY j)),
       |                (a, b) -> a + b) AS adc
       |  FROM pt GROUP BY 1, 2, 3
       |),
       |${duckPqTopK(3, cell = true, "(p.pcd + sc.adc)", "pb")}""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ----- MinHash + banded LSH near-duplicate candidates --------------
    // 8 permutations, 4 bands of 2; pairs sharing >= 1 band bucket.
    // The Spark plan shuffles on (band, bh) — no cartesian.
    QDef.sql(
      "llm_minhash_pairs",
      s"""WITH ${duckShingleHashes()},
         |${duckMinHashBands()},
         |${duckBandPairs("p")}
         |SELECT doc_a, doc_b FROM p ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      LlmOps.minHashCandidatePairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    },

    // ----- Cross-source overlap matrix (data-card companion) -----------
    // Per unordered source pair: LSH candidate-pair count, side doc
    // counts, and the rate over possible pairs — "which sources
    // duplicate each other" before committing to a mix.
    QDef.sql(
      "llm_source_overlap",
      s"""WITH ${duckShingleHashes()},
         |${duckMinHashBands()},
         |${duckBandPairs("cand")},
         |sizes AS (SELECT doc_id, count(*) AS nsh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT cand.doc_a, cand.doc_b, count(*) AS i
         |  FROM cand JOIN hashed a ON a.doc_id = cand.doc_a
         |            JOIN hashed b ON b.doc_id = cand.doc_b AND b.h = a.h
         |  GROUP BY 1, 2
         |),
         |jac AS (
         |  SELECT cand.doc_a, cand.doc_b,
         |    coalesce(round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 6),
         |             0.0) AS j
         |  FROM cand JOIN sizes sa ON sa.doc_id = cand.doc_a
         |            JOIN sizes sb ON sb.doc_id = cand.doc_b
         |            LEFT JOIN inter ON inter.doc_a = cand.doc_a
         |                           AND inter.doc_b = cand.doc_b
         |),
         |lab AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b,
         |         jac.j
         |  FROM jac JOIN documents da ON da.doc_id = jac.doc_a
         |           JOIN documents db ON db.doc_id = jac.doc_b
         |),
         |cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |        FROM documents GROUP BY source),
         |m AS (
         |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dups
         |  FROM lab GROUP BY 1, 2
         |)
         |SELECT source_a, source_b, n_pairs, n_dups,
         |  ca.n AS n_docs_a, cb.n AS n_docs_b,
         |  round(n_pairs / (CASE WHEN source_a = source_b
         |    THEN CAST(ca.n AS DOUBLE) * (ca.n - 1) / 2.0
         |    ELSE CAST(ca.n AS DOUBLE) * cb.n END), 6) AS pair_rate,
         |  round(n_dups / (CASE WHEN source_a = source_b
         |    THEN CAST(ca.n AS DOUBLE) * (ca.n - 1) / 2.0
         |    ELSE CAST(ca.n AS DOUBLE) * cb.n END), 6) AS dup_rate
         |FROM m JOIN cnt ca ON ca.source = m.source_a
         |       JOIN cnt cb ON cb.source = m.source_b
         |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      LlmOps.sourceOverlap(t(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy("source_a", "source_b")
    },

    // ----- MinHash calibration: signature estimate vs exact Jaccard ----
    // For every LSH candidate pair: matching signature components out
    // of 8 (estimate = matches/8, float-exact), joined with the true
    // 2-gram Jaccard — the est-vs-exact spread is how band/row configs
    // get tuned. Hash-collision-only candidates score exact 0.
    QDef.sql(
      "llm_minhash_est", {
        val agree = (0 until 8)
          .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH ${duckShingleHashes()},
           |${duckMinHashBands()},
           |${duckBandPairs("cand")},
           |est AS (
           |  SELECT cand.doc_a, cand.doc_b,
           |         CAST($agree AS BIGINT) AS sig_matches
           |  FROM cand JOIN mh a ON a.doc_id = cand.doc_a
           |            JOIN mh b ON b.doc_id = cand.doc_b
           |),
           |$duckSharedShingles,
           |exact AS (
           |  SELECT doc_a, doc_b,
           |         round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
           |  FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |)
           |SELECT est.doc_a, est.doc_b, est.sig_matches,
           |       est.sig_matches / 8.0 AS est_jaccard,
           |       coalesce(exact.jaccard, 0.0) AS jaccard
           |FROM est LEFT JOIN exact USING (doc_a, doc_b)
           |ORDER BY doc_a, doc_b""".stripMargin
      }) { (s, dir) =>
      LlmOps.minHashEstimatePairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b")
    },

    // ----- SimHash fingerprint (16-bit, frequency-weighted) ------------
    QDef.sql(
      "llm_simhash",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
         |),
         |hashed AS (
         |  SELECT doc_id, ${duckHash("w")} AS h FROM toks
         |),
         |bits AS (
         |  SELECT doc_id, b,
         |         CASE WHEN sum(((h >> b) & 1) * 2 - 1) > 0
         |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM hashed, generate_series(0, 15) g(b)
         |  GROUP BY doc_id, b
         |)
         |SELECT doc_id, CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      LlmOps.simHash(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // ----- Exact 2-gram Jaccard within a bounded probe set -------------
    QDef.sql(
      "llm_jaccard_pairs",
      s"""WITH ${duckShingleHashes("WHERE doc_id < 40")},
         |$duckSharedShingles
         |SELECT doc_a, doc_b,
         |       round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.04
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      LlmOps.jaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 40),
        "doc_id", "text", n = 2, minJaccard = 0.04)
        .orderBy("doc_a", "doc_b")
    },

    // ----- Brute-force cosine top-k (similarity-search baseline) -------
    QDef.sql(
      "llm_cosine_topk",
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |  WHERE ${duckFold("list_transform(generate_series(1,64), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")} > 0
         |),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |    ${duckFold("list_transform(generate_series(1,64), i -> p.e[i] * c.e[i])")}
         |      / (sqrt(${duckFold("list_transform(generate_series(1,64), i -> p.e[i] * p.e[i])")})
         |       * sqrt(${duckFold("list_transform(generate_series(1,64), i -> c.e[i] * c.e[i])")})) AS cos
         |  FROM v p, v c WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |)
         |${duckCosTopK(5)}""".stripMargin) { (s, dir) =>
      LlmOps.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    },

    // ----- ANN top-k via random-hyperplane LSH bucketing ---------------
    // Probes scored only within their bucket: shuffle on bucket id, no n².
    QDef.sql(
      "llm_ann_lsh",
      s"""WITH ${duckEmb("v")},
         |dots AS (
         |  SELECT vec_id, h,
         |    ${duckFold("""list_transform(generate_series(1,64),
           |      i -> e[i] * CAST(((1103515245 * (h * 64 + i - 1)) + 12345) % 2001 - 1000 AS DOUBLE))""".stripMargin)} AS d
         |  FROM v, generate_series(0, 7) g(h)
         |),
         |bk AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << h) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM dots GROUP BY vec_id
         |),
         |vn AS (
         |  SELECT v.vec_id, e, bucket,
         |    ${duckFold("list_transform(generate_series(1,64), i -> e[i] * e[i])")} AS nrm
         |  FROM v JOIN bk USING (vec_id)
         |  WHERE nrm > 0
         |),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.bucket AS bucket,
         |    ${duckFold("list_transform(generate_series(1,64), i -> p.e[i] * c.e[i])")}
         |      / (sqrt(p.nrm) * sqrt(c.nrm)) AS cos
         |  FROM vn p JOIN vn c ON p.bucket = c.bucket AND c.vec_id != p.vec_id
         |  WHERE p.vec_id < 20
         |)
         |${duckCosTopK(3, "bucket, ")}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKLsh(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, k = 3, planes = 8)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    },

    // ----- ANN top-k, IVF over int8-quantized vectors --------------------
    // The production composition: coarse assignment at full precision
    // against the seed codebook, in-cell scoring on quantized vectors
    // with pure-integer dots. Seed codebook (iters=0) keeps the oracle
    // to one ranked-assignment CTE; trained-codebook assignment is
    // covered by llm_ann_ivf, quantization exactness by
    // llm_embed_quantize.
    QDef.sql(
      "llm_ann_ivf_quantized",
      s"""WITH $duckVecNrm,
         |$duckSeedCents,
         |${duckIvfAssign()},
         |s AS (
         |  SELECT vec_id,
         |    list_reduce(list_prepend(0.0, list_transform(e, x -> abs(x))),
         |                (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS mx,
         |    e
         |  FROM v
         |),
         |qz AS (
         |  SELECT vec_id,
         |    list_transform(e, x -> CAST(round(
         |      x * (CASE WHEN mx = 0 THEN 0.0 ELSE 127.0 / mx END)) AS BIGINT))
         |      AS q
         |  FROM s
         |),
         |n AS (
         |  SELECT qz.vec_id, q, cell,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS n2
         |  FROM qz JOIN assign ON assign.vec_id = qz.vec_id
         |  WHERE n2 > 0
         |),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.cell AS cell,
         |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, 64), i -> p.q[i] * c.q[i])),
         |      (a, b) -> a + b) AS DOUBLE)
         |    / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS qc
         |  FROM n p JOIN n c ON p.cell = c.cell AND c.vec_id != p.vec_id
         |  WHERE p.vec_id < 20
         |)
         |SELECT probe_id, cand_id, cell, round(qc, 6) AS qcosine
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY probe_id
         |                           ORDER BY qc DESC, cand_id) <= 3
         |ORDER BY probe_id, qcosine DESC, cand_id""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvfQuantized(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, k = 8, iters = 0)
        .orderBy(col("probe_id"), col("qcosine").desc, col("cand_id"))
    },

    // ----- Embedding-cosine near-duplicate dedup pairs -----------------
    // Fifth dedup method: LSH-banded cosine threshold; keep_id is the
    // dedup survivor, dup_id the removable near-duplicate. The bucket
    // space SCALES WITH THE CORPUS in both engines (per-band planes w =
    // bitlength(n-1) - 1 clamped to [1, 15], n = 500 -> 8) and — r14 —
    // the search runs FOUR independent bands (slices of one 4w-bit
    // code): a single table's all-planes-agree probability (1-θ/π)^w
    // decays toward zero as the auto law grows w with the corpus, so
    // only identical-direction duplicates would survive at scale;
    // any-band-agrees keeps recall at 1-(1-(1-θ/π)^w)^4 (e.g. 0.46 ->
    // 0.92 at cos 0.95, w 15) while precision is UNCHANGED — every
    // candidate is verified by exact cosine ≥ 0.2 before it is
    // emitted. Recall is still < 1 (any LSH is): pairs agreeing on no
    // band are not searched, by design, never by a quadratic scan.
    QDef.sql(
      "llm_embed_neardup",
      s"""WITH ${duckEmb("v")},
         |pl AS (
         |  SELECT greatest(1, least(15, length(bin(count(*) - 1)) - 1)) AS p
         |  FROM v
         |),
         |dots AS (
         |  SELECT vec_id, h,
         |    ${duckFold("""list_transform(generate_series(1,64),
           |      i -> e[i] * CAST(((1103515245 * (h * 64 + i - 1)) + 12345) % 2001 - 1000 AS DOUBLE))""".stripMargin)} AS d
         |  FROM v, pl, generate_series(0, 59) g(h)
         |  WHERE g.h < 4 * pl.p
         |),
         |bk AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << h) ELSE 0 END) AS BIGINT) AS code
         |  FROM dots GROUP BY vec_id
         |),
         |vn AS (
         |  SELECT v.vec_id, e, code,
         |    ${duckFold("list_transform(generate_series(1,64), i -> e[i] * e[i])")} AS nrm
         |  FROM v JOIN bk USING (vec_id)
         |  WHERE nrm > 0
         |),
         |banded AS (
         |  SELECT vec_id, e, nrm, code, band,
         |    (code >> CAST(band * pl.p AS INT))
         |      & ((CAST(1 AS BIGINT) << pl.p) - 1) AS slice
         |  FROM vn, pl, generate_series(0, 3) g(band)
         |),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS keep_id, b.vec_id AS dup_id,
         |    ${duckFold("list_transform(generate_series(1,64), i -> a.e[i] * b.e[i])")}
         |      / (sqrt(a.nrm) * sqrt(b.nrm)) AS cos
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.slice = b.slice AND a.vec_id < b.vec_id
         |)
         |SELECT keep_id, dup_id, round(cos, 6) AS cosine
         |FROM pairs WHERE cos >= 0.2
         |ORDER BY keep_id, dup_id""".stripMargin) { (s, dir) =>
      LlmOps.embedNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.2)
        .orderBy("keep_id", "dup_id")
    },

    // ----- ANN top-k via IVF cells (k-means-trained codebook) ----------
    // Seeded init (first 8 ids) + 2 deterministic k-means rounds, both
    // engines computing the identical codebook: argmax assignment with
    // an id tiebreak, per-dimension mean recompute, empty cells keep
    // their previous centroid. Float jitter from avg's sum order is
    // ~1e-16 — far below the round-6 compare.
    QDef.sql(
      "llm_ann_ivf",
      s"""WITH $duckTrainedIvf,
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.cell AS cell,
         |    ${duckFold("list_transform(generate_series(1,64), i -> p.e[i] * c.e[i])")}
         |      / (sqrt(p.nrm) * sqrt(c.nrm)) AS cos
         |  FROM assign p JOIN assign c ON p.cell = c.cell AND c.vec_id != p.vec_id
         |  WHERE p.vec_id < 20
         |)
         |${duckCosTopK(3, "cell, ")}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvf(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, k = 8, iters = 2)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    },

    // ----- Semantic dedup (SemDeDup: cluster, then screen in-cell) -----
    // Same trained codebook as llm_ann_ivf (seeded init + 2 rounds);
    // a vector is dropped when a smaller-id cell-mate is within
    // cosine 0.2. kept compares the UNROUNDED max (round is for the
    // emitted column only), mirrored exactly in the oracle.
    QDef.sql(
      "llm_semantic_dedup",
      s"""WITH $duckTrainedIvf,
         |best AS (
         |  SELECT a.vec_id,
         |    max(${duckFold("list_transform(generate_series(1,64), i -> a.e[i] * b.e[i])")}
         |      / (sqrt(a.nrm) * sqrt(b.nrm))) AS best
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
         |  GROUP BY a.vec_id
         |)
         |SELECT a.vec_id, a.cell, round(b.best, 6) AS best_sim,
         |       (b.best IS NULL OR b.best < 0.2) AS kept
         |FROM assign a LEFT JOIN best b ON a.vec_id = b.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      LlmOps.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.2, k = 8, iters = 2)
        .orderBy("vec_id")
    },

    // ----- ANN top-k, IVF with nprobe=2 --------------------------------
    // The IVF recall knob: probes search their TWO nearest cells
    // (candidates still live in exactly one home cell, so no pair
    // dedup). Seed codebook keeps the oracle to one ranked-assignment
    // CTE; the trained-codebook path is covered by llm_ann_ivf.
    QDef.sql(
      "llm_ann_ivf_probe2",
      s"""WITH $duckVecNrm,
         |$duckSeedCents,
         |ranked AS (
         |  SELECT vec_id, e, nrm, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
         |  FROM (
         |${duckCentroidCos("v.vec_id, v.e, v.nrm, c.cid")}
         |  )
         |),
         |cand AS (SELECT vec_id, e, nrm, cid AS cell FROM ranked WHERE rn = 1),
         |probe AS (SELECT vec_id, e, nrm, cid AS cell FROM ranked
         |          WHERE rn <= 2 AND vec_id < 20),
         |scored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.cell AS cell,
         |    ${duckFold("list_transform(generate_series(1,64), i -> p.e[i] * c.e[i])")}
         |      / (sqrt(p.nrm) * sqrt(c.nrm)) AS cos
         |  FROM probe p JOIN cand c ON p.cell = c.cell AND c.vec_id != p.vec_id
         |)
         |${duckCosTopK(3, "cell, ")}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvf(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, k = 8, iters = 0, nprobe = 2)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    },

    // ----- Connected-components dedup canonicalization -----------------
    // Iterative min-label propagation in Spark; transitive closure via
    // WITH RECURSIVE in the oracle — both converge to the component min.
    QDef.sql(
      "llm_dedup_groups",
      s"""WITH RECURSIVE ${duckShingleHashes()},
         |${duckMinHashBands()},
         |${duckBandPairs("prs")},
         |${duckCcReach("documents")}
         |SELECT doc_id, min(label) AS canonical_id
         |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // producer benchmark: ALWAYS computes CC fresh (no memo read) so
      // the iterative-CC cost stays visible in every bench run — see
      // the ccLabelMemo note at the top of this object
      LlmOps.dedupGroups(docs, "doc_id",
        LlmOps.minHashCandidatePairs(docs, "doc_id", "text"))
        .orderBy("doc_id")
    },

    // ----- SimHash near-dup pairs (banded Hamming search) --------------
    // Pigeonhole: ≤3 differing bits across ≥4 bands leave at least one
    // band identical, so the band join finds EVERY pair within the
    // threshold — exact, no all-pairs scan, at ANY slice width. r14:
    // the CODE is a fixed 60-bit fingerprint (two avalanched mix32
    // lanes, every primitive replayed verbatim below), so "hamming ≤ 3"
    // is a stable property of the two documents at every corpus size —
    // the r13 form grew the code itself with the corpus, silently
    // tightening the threshold from 3-of-16 toward 3-of-60 bits. What
    // scales instead is the SEARCH: slice width wd = the largest
    // divisor of 60 in {4,5,6,10,12,15} under the bitlength(n-1)-1 law
    // (per-band buckets ≈ n/2 keep occupancy flat — fixed 8-bit slices
    // measured 20×+/decade at sf10), bands = 60/wd ≥ 4 > 3, so recall
    // stays exactly 1.0 wherever the width lands.
    QDef.sql(
      "llm_simhash_pairs",
      s"""WITH ${DuckSql.duckBandWidthNn},
         |${DuckSql.duckSimHash60Ctes("sh")},
         |${DuckSql.duckHammingPairsSql("sh", "simhash", "p")}""".stripMargin) { (s, dir) =>
      LlmOps.simHashPairsAuto(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .orderBy("doc_a", "doc_b")
    },

    // ----- Keep-best near-dup canonicalization -------------------------
    // Same CC clusters as llm_dedup_groups, but each doc re-points at
    // its cluster's HIGHEST-quality member (rounded score, id
    // tiebreak) — what a real curation pass keeps. Quality mirrors
    // llm_quality's formula exactly; both engines rank on the SAME
    // round(quality, 6) value so the argmax agrees.
    QDef.sql(
      "llm_dedup_best",
      s"""WITH RECURSIVE ${duckShingleHashes()},
         |${duckMinHashBands()},
         |${duckBandPairs("prs")},
         |${duckCcReach("documents", "cedges")},
         |canon AS (
         |  SELECT doc_id, min(label) AS comp FROM reach GROUP BY doc_id
         |),
         |q AS (
         |  SELECT doc_id,
         |    round(CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE least(1.0, CAST(len(ws) AS BIGINT) / 50.0) * 0.4
         |        + (CAST(len(list_filter(ws, x -> list_contains(
         |            ${graft.operators.TextOps.StopEn.map(w => s"'$w'").mkString("[", ",", "]")}, x))) AS DOUBLE)
         |           / CAST(len(ws) AS BIGINT)) * 0.3
         |        + (1.0 - CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
         |           / length(text)) * 0.3 END, 6) AS quality
         |  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS ws
         |        FROM documents)
         |),
         |best AS (
         |  SELECT comp, doc_id AS best_id FROM (
         |    SELECT c.comp, c.doc_id,
         |      row_number() OVER (PARTITION BY c.comp
         |        ORDER BY q.quality DESC, c.doc_id) AS rn
         |    FROM canon c JOIN q USING (doc_id))
         |  WHERE rn = 1
         |)
         |SELECT c.doc_id, b.best_id AS canonical_id
         |FROM canon c JOIN best b USING (comp)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextOps
        .qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      // reuse-consumer path: keep-best over the memoized labeled frame
      // (see ccLabelMemo) — one keyed window + join, no second CC run
      LlmOps.dedupGroupsKeepBest(
        memoizedLabels(s, dir), scored, "doc_id", "quality")
        .orderBy("doc_id")
    },

    // ----- Benchmark-contamination detection ---------------------------
    // Docs whose doc_id % 20 == 0 stand in for the benchmark/eval set;
    // every other doc reports how many distinct 3-gram shingles it
    // shares with ANY benchmark doc (the train/test-leakage check). The
    // benchmark hash set is broadcast in the Spark plan — no shuffle on
    // the corpus side beyond the per-doc count.
    QDef.sql(
      "llm_contamination",
      s"""WITH ${duckShingleHashes(n = 3)},
         |bench AS (
         |  SELECT DISTINCT h FROM hashed WHERE doc_id % 20 = 0
         |)
         |SELECT hashed.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM hashed JOIN bench USING (h)
         |WHERE hashed.doc_id % 20 <> 0
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      LlmOps.contamination(t(s, dir, "documents"), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0, n = 3)
        .orderBy("doc_id")
    },

    // ----- Incremental dedup: new batch vs existing corpus -------------
    // Docs with doc_id % 5 == 0 are the "new batch"; the rest is the
    // historical corpus. A new doc survives iff its bag-of-words
    // fingerprint (hash of the sorted distinct lowercased words — order/
    // repetition-insensitive exact dedup) is unseen in the corpus. The
    // Spark path proves the Bloom-prefilter + exact-verify plan equals
    // the oracle's plain anti join.
    QDef.sql(
      "llm_incremental_dedup",
      s"""WITH f AS (
         |  SELECT doc_id,
         |    ${duckHash("array_to_string(list_sort(list_distinct(" +
             "string_split(lower(text), ' '))), ' ')")} AS fp
         |  FROM documents
         |)
         |SELECT doc_id, fp FROM f
         |WHERE doc_id % 5 = 0
         |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 5 <> 0)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bow = array_join(
        array_sort(array_distinct(LlmOps.words(col("text")))), " ")
      val fps = t(s, dir, "documents")
        .select(col("doc_id"), LlmOps.strHash(bow).as("fp"))
      LlmOps.incrementalDedup(
        fps.filter(col("doc_id") % 5 === 0),
        fps.filter(col("doc_id") % 5 =!= 0),
        "fp")
        .orderBy("doc_id")
    },

    // ----- Incremental NEAR-dedup: new batch vs existing corpus --------
    // Same split as llm_incremental_dedup, sketch-level: a new doc is
    // dropped iff some historical doc band-collides with it (MinHash
    // LSH registry probe) AND the exact 2-gram Jaccard of the collision
    // pair clears 0.5. At this sf the corpus's near-dups sit >= 0.8 and
    // the LSH false positives < 0.15, so the verify stage provably
    // fires both ways.
    QDef.sql(
      "llm_incremental_neardedup",
      s"""WITH ${duckShingleHashes()},
         |${duckMinHashBands()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS nid, b.doc_id AS hid
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
         |),
         |sizes AS (SELECT doc_id, count(*) AS n2 FROM hashed GROUP BY 1),
         |inter AS (
         |  SELECT c.nid, c.hid, count(*) AS i
         |  FROM cand c
         |  JOIN hashed x ON x.doc_id = c.nid
         |  JOIN hashed y ON y.doc_id = c.hid AND y.h = x.h
         |  GROUP BY 1, 2
         |),
         |bad AS (
         |  SELECT DISTINCT nid FROM inter
         |  JOIN sizes sa ON sa.doc_id = nid
         |  JOIN sizes sb ON sb.doc_id = hid
         |  WHERE round(CAST(i AS DOUBLE) / (sa.n2 + sb.n2 - i), 6) >= 0.5
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT nid FROM bad)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      LlmOps.incrementalNearDedup(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", n = 2, minJaccard = 0.5)
        .select("doc_id")
        .orderBy("doc_id")
    },

    // ----- Int8 embedding quantization ----------------------------------
    // Symmetric per-vector quantization (scale = 127/max|x|): the q
    // values and their stats are integer-exact once the two IEEE steps
    // (divide, multiply) round identically, and round() is
    // half-away-from-zero on both engines. The quantized array itself is
    // verified through its exact L1/extremes/saturation stats.
    QDef.sql(
      "llm_embed_quantize",
      s"""WITH ${duckQuantCtes(keepMx = true)}
        |SELECT vec_id, round(mx, 6) AS max_abs,
        |  CAST(len(q) AS BIGINT) AS n_dims,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(q, x -> abs(x))), (a, b) -> a + b) AS q_l1,
        |  list_aggregate(q, 'max') AS q_max,
        |  list_aggregate(q, 'min') AS q_min,
        |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM qz ORDER BY vec_id""".stripMargin) { (s, dir) =>
      LlmOps.quantizeInt8(t(s, dir, "embeddings"), "vec_id", col("embedding"))
        .drop("q")
        .orderBy("vec_id")
    },

    // ----- Embedding outlier report (prototypicality screen) -----------
    // Bottom-k cosine to the int8-quantized corpus mean: per-dim
    // integer sums are order-free, ONE float division per dimension,
    // dimension-order folds, IEEE sqrt — bit-for-bit replayable.
    QDef.sql(
      "llm_embed_outliers",
      s"""WITH ${duckQuantCtes()},
         |cd AS (
         |  SELECT p, CAST(sum(x) AS BIGINT) AS sm, count(*) AS n
         |  FROM (SELECT unnest(q) AS x,
         |               unnest(generate_series(1, len(q))) AS p FROM qz)
         |  GROUP BY p
         |),
         |cm AS (
         |  SELECT list(CAST(sm AS DOUBLE) / n ORDER BY p) AS c FROM cd
         |),
         |sc AS (
         |  SELECT vec_id,
         |    ${DuckSql.duckFold("list_transform(generate_series(1, len(q)), i -> q[i] * c[i])")}
         |      / (sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(q, x -> x * x)), (a, b) -> a + b)
         |           AS DOUBLE))
         |         * sqrt(${DuckSql.duckFold("list_transform(c, x -> x * x)")}))
         |      AS cs,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(q, x -> x * x)), (a, b) -> a + b) AS nq
         |  FROM qz CROSS JOIN cm
         |)
         |SELECT vec_id, round(cs, 6) AS cos_centroid
         |FROM sc WHERE nq > 0
         |ORDER BY cs, vec_id LIMIT 50""".stripMargin) { (s, dir) =>
      LlmOps.embedOutliers(t(s, dir, "embeddings"), "vec_id",
        col("embedding"), k = 50)
    },

    // ----- Top-k search over the int8-quantized vectors ------------------
    // The payoff of llm_embed_quantize: the scoring loop is pure BIGINT
    // multiply-add over 8-bit values (overflow-free by construction),
    // one sqrt+divide per pair at the end. Ranks by quantized cosine
    // with deterministic candidate-id tiebreak — integer dots make the
    // ordering engine-exact, no float-sum order concerns at all.
    QDef.sql(
      "llm_ann_quantized",
      s"""WITH ${duckQuantCtes()},
        |$duckQuantNorm,
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, 64), i -> p.q[i] * c.q[i])),
        |      (a, b) -> a + b) AS DOUBLE)
        |    / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS qc
        |  FROM n p, n c WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
        |)
        |SELECT probe_id, cand_id, round(qc, 6) AS qcosine
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY qc DESC, cand_id) <= 5
        |ORDER BY probe_id, qcosine DESC, cand_id""".stripMargin) { (s, dir) =>
      LlmOps.quantizedTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5)
        .orderBy(col("probe_id"), col("qcosine").desc, col("cand_id"))
    },

    // ----- Product-quantization ADC retrieval (PQ half of IVF-PQ) ------
    // 8 subspaces × 8 seeded sub-centroids; candidates carry 8 code
    // indices + 1 reconstruction norm, probes carry an 8×8 dot table,
    // each pair costs 8 table lookups. All folds in subspace-then-
    // dimension order — the oracle replays codes, norms, and ADC
    // scores bit for bit.
    QDef.sql(
      "llm_ann_pq",
      s"""WITH $duckPqAdc,
        |${duckPqTopK(5)}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKPq(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 5, k = 5)
        .orderBy(col("probe_id"), col("pqcosine").desc, col("cand_id"))
    },

    // ----- IVF x PQ: the full production retrieval layout --------------
    // Seeded coarse cells (iters=0, nprobe=1) restrict each probe to
    // its home cell; in-cell scoring is PQ ADC (8 lookups/pair) against
    // the global sub-codebooks. Candidate = cell id + 8 codes + 1 norm.
    QDef.sql(
      "llm_ann_ivf_pq",
      s"""WITH $duckIvfPqPrefix,
         |${duckPqEncode(nrmGuard = true)},
         |pt AS (
         |  SELECT p.vec_id AS probe_id, a.vec_id AS cand_id,
         |         pa.cell AS cell, code.j,
         |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
         |      i -> p.e[code.j * 8 + i] * c.ce[code.j * 8 + i])),
         |      (a, b) -> a + b) AS t
         |  FROM v p
         |  JOIN assign pa ON pa.vec_id = p.vec_id
         |  JOIN assign a ON a.cell = pa.cell AND a.vec_id != p.vec_id
         |  JOIN code ON code.vec_id = a.vec_id
         |  JOIN cbr c ON c.rnk = code.rnk
         |  WHERE p.vec_id < 20 AND p.nrm > 0
         |),
         |sc AS (
         |  SELECT probe_id, cand_id, cell,
         |    list_reduce(list_prepend(0.0, list(t ORDER BY j)),
         |                (a, b) -> a + b) AS adot
         |  FROM pt GROUP BY 1, 2, 3
         |),
         |${duckPqTopK(3, cell = true)}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvfPq(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, kCells = 8, iters = 0, nprobe = 1)
        .orderBy(col("probe_id"), col("pqcosine").desc, col("cand_id"))
    },

    // ----- RESIDUAL IVF-PQ (the classic Jégou refinement) --------------
    // PQ codebooks quantize e - cell_centroid (seeds: residuals of
    // vectors 8..15 vs their home cells — vectors 0..7 ARE the seeded
    // centroids, residual ~0); candidate norm = |centroid + residual
    // reconstruction|²; pair score = dot(p, centroid) + residual ADC.
    QDef.sql(
      "llm_ann_ivf_pqr",
      s"""WITH $duckResidualRows,
         |${duckResidualSeeds("rcb")},
         |${duckResidualAdcSql("rcb")}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvfPq(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, kCells = 8, iters = 0, nprobe = 1,
        residual = true)
        .orderBy(col("probe_id"), col("pqcosine").desc, col("cand_id"))
    },

    // ----- TRAINED residual IVF-PQ (the production refinement) ---------
    // The residual sub-codebooks are TRAINED: 2 rounds of per-subspace
    // k-means on r = e - home_cell_centroid, seeded from the residuals
    // of vectors 8..15 — the oracle replays the ENTIRE training
    // (residual assign -> per-(j,rank,dim) mean -> empty-cell
    // carryover, twice) before the encode/ADC-score replay. This is
    // the Jegou et al. layout that makes residual coding actually win:
    // trained residual centroids fit the (small) residual distribution
    // finer than raw-vector centroids fit raw vectors at the same
    // m x ksub budget (see PqTrainSpec for the measured recall and
    // reconstruction-error comparison on a clustered corpus).
    QDef.sql(
      "llm_ann_ivf_pqr_t",
      s"""WITH $duckResidualRows,
         |res AS (
         |  SELECT vec_id,
         |    list_transform(generate_series(1, 64), i -> e[i] - bce[i]) AS re
         |  FROM rv
         |),
         |${duckResidualSeeds("rcb0")},
         |${duckPqTrainRound(1, "res", "re", "rcb")},
         |${duckPqTrainRound(2, "res", "re", "rcb")},
         |${duckResidualAdcSql("rcb2")}""".stripMargin) { (s, dir) =>
      LlmOps.annTopKIvfPq(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 20, topK = 3, kCells = 8, iters = 0, nprobe = 1,
        residual = true, trainIters = 2)
        .orderBy(col("probe_id"), col("pqcosine").desc, col("cand_id"))
    },

    // ----- PQ quantization-error report: seeded vs TRAINED codebooks ---
    // Per vector, relative reconstruction error against the seeded
    // codebook and against 2 rounds of per-subspace k-means — the
    // oracle replays the ENTIRE training (assign → per-(j,rank,dim)
    // mean → empty-cell carryover, twice) plus both error passes.
    // Training's objective is exactly this number (measured corpus
    // means: 0.955 seeded → 0.698 trained at ksub=8).
    QDef.sql(
      "llm_pq_error", {
        def errCte(name: String, cbCte: String): String =
          s"""$name AS (
             |  SELECT vec_id,
             |    list_reduce(list_prepend(0.0, list(l2 ORDER BY j)),
             |                (a, b) -> a + b) AS err2
             |  FROM (
             |    SELECT vec_id, j, min(l2) AS l2 FROM (
             |      SELECT v.vec_id, g.j,
             |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
             |          i -> (v.e[g.j * 8 + i] - c.ce[g.j * 8 + i])
             |             * (v.e[g.j * 8 + i] - c.ce[g.j * 8 + i]))),
             |          (a, b) -> a + b) AS l2
             |      FROM v, generate_series(0, 7) g(j), $cbCte c
             |    ) GROUP BY vec_id, j
             |  ) GROUP BY vec_id
             |)""".stripMargin
        s"""WITH $duckPqVec,
           |cb0 AS (
           |  SELECT row_number() OVER (ORDER BY vec_id) AS rnk, e AS ce
           |  FROM v WHERE vec_id < 8
           |),
           |${duckPqTrainRound(1, "v", "e", "cb")},
           |${duckPqTrainRound(2, "v", "e", "cb")},
           |${errCte("e0", "cb0")},
           |${errCte("et", "cb2")}
           |SELECT v.vec_id,
           |  round(e0.err2 / v.nrm, 6) AS rel_err_seeded,
           |  round(et.err2 / v.nrm, 6) AS rel_err_trained
           |FROM v JOIN e0 ON e0.vec_id = v.vec_id
           |       JOIN et ON et.vec_id = v.vec_id
           |ORDER BY v.vec_id""".stripMargin
      }) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val seeded = LlmOps.pqReconReport(emb, "vec_id", "embedding")
        .select(col("vec_id"), col("rel_err").as("rel_err_seeded"))
      val trained = LlmOps.pqReconReport(emb, "vec_id", "embedding",
        trainIters = 2)
        .select(col("vec_id"), col("rel_err").as("rel_err_trained"))
      seeded.join(trained, Seq("vec_id")).orderBy("vec_id")
    },

    // ----- PQ coarse + exact rerank (the recall repair) ----------------
    // ADC keeps top-20 per probe on m-byte codes, full-precision
    // cosine reranks ONLY those to the final top-5 — the measured
    // answer to the PQ recall ceiling (cf. llm_ann_pq_recall).
    QDef.sql(
      "llm_ann_pq_rerank",
      s"""WITH $duckPqAdc,
        |${duckPqShortlist("coarse", 20)},
        |rr AS (
        |  SELECT co.probe_id, co.cand_id,
        |    list_reduce(list_prepend(0.0, list_transform(
        |      generate_series(1, 64), i -> p.e[i] * cv.e[i])),
        |      (a, b) -> a + b) / (sqrt(p.nrm) * sqrt(cv.nrm)) AS cos
        |  FROM coarse co JOIN v p ON p.vec_id = co.probe_id
        |                 JOIN v cv ON cv.vec_id = co.cand_id
        |)
        |SELECT probe_id, cand_id, round(cos, 6) AS cosine
        |FROM rr
        |QUALIFY row_number() OVER (PARTITION BY probe_id
        |                           ORDER BY cos DESC, cand_id) <= 5
        |ORDER BY probe_id, cosine DESC, cand_id""".stripMargin) { (s, dir) =>
      LlmOps.pqRerankTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = _ < 5, k = 5, coarseK = 20)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    },

    // ----- PQ recall calibration (est-vs-exact, the llm_minhash_est ----
    // pattern for ANN): per probe, overlap of the PQ ADC top-5 with the
    // exact cosine top-5 — THE number that tunes m/ksub before trusting
    // the compressed index at scale.
    QDef.sql(
      "llm_ann_pq_recall",
      s"""WITH $duckPqAdc,
        |${duckPqShortlist("pqtop", 5)},
        |extop AS (
        |  SELECT probe_id, cand_id
        |  FROM (
        |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |      list_reduce(list_prepend(0.0, list_transform(
        |        generate_series(1, 64), i -> p.e[i] * c.e[i])),
        |        (a, b) -> a + b) / (sqrt(p.nrm) * sqrt(c.nrm)) AS cos
        |    FROM v p, v c WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
        |  )
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |                             ORDER BY cos DESC, cand_id) <= 5
        |)
        |SELECT e.probe_id,
        |  CAST(count(q.cand_id) AS BIGINT) AS n_hit,
        |  round(count(q.cand_id) / 5.0, 6) AS recall
        |FROM extop e LEFT JOIN pqtop q
        |  ON q.probe_id = e.probe_id AND q.cand_id = e.cand_id
        |GROUP BY e.probe_id
        |ORDER BY e.probe_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val pq = LlmOps.annTopKPq(emb, "vec_id", "embedding",
        probeFilter = _ < 5, k = 5)
        .select(col("probe_id"), col("cand_id"), lit(1).as("__hit"))
      val exact = LlmOps.cosineTopK(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5)
        .select(col("probe_id"), col("cand_id"))
      exact.join(pq, Seq("probe_id", "cand_id"), "left")
        .groupBy("probe_id")
        .agg(sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"))
        .withColumn("recall", round(col("n_hit") / 5.0, 6))
        .orderBy("probe_id")
    },

    // ----- Quantized-coarse + exact-rerank retrieval ---------------------
    // The production two-stage pattern: int8 scan keeps top-20 per
    // probe, full-precision cosine reranks ONLY those to the final
    // top-5. Quantization error inside the coarse pool is repaired;
    // the float math touches 20·probes rows, never the corpus.
    QDef.sql(
      "llm_ann_rerank",
      s"""WITH ${duckQuantCtes()},
         |$duckQuantNorm,
         |coarse AS (
         |  SELECT probe_id, cand_id FROM (
         |    SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
         |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(generate_series(1, 64), i -> p.q[i] * c.q[i])),
         |        (a, b) -> a + b) AS DOUBLE)
         |      / (sqrt(CAST(p.n2 AS DOUBLE)) * sqrt(CAST(c.n2 AS DOUBLE))) AS qc
         |    FROM n p, n c WHERE p.vec_id < 5 AND c.vec_id != p.vec_id
         |  )
         |  QUALIFY row_number() OVER (PARTITION BY probe_id
         |                             ORDER BY qc DESC, cand_id) <= 20
         |),
         |rescored AS (
         |  SELECT coarse.probe_id, coarse.cand_id,
         |    ${duckFold("list_transform(generate_series(1,64), i -> p.v[i] * c.v[i])")}
         |      / (sqrt(${duckFold("list_transform(generate_series(1,64), i -> p.v[i] * p.v[i])")})
         |       * sqrt(${duckFold("list_transform(generate_series(1,64), i -> c.v[i] * c.v[i])")})) AS cos
         |  FROM coarse
         |  JOIN m p ON p.vec_id = coarse.probe_id
         |  JOIN m c ON c.vec_id = coarse.cand_id
         |)
         |SELECT probe_id, cand_id, round(cos, 6) AS cosine
         |FROM rescored
         |QUALIFY row_number() OVER (PARTITION BY probe_id
         |                           ORDER BY cos DESC, cand_id) <= 5
         |ORDER BY probe_id, cosine DESC, cand_id""".stripMargin) { (s, dir) =>
      LlmOps.quantizedRerankTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        probeFilter = col("vec_id") < 5, k = 5, coarseK = 20)
        .orderBy(col("probe_id"), col("cosine").desc, col("cand_id"))
    })
}
