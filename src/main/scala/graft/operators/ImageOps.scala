package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL image decode / resize / perceptual hash over opaque BinaryType
  * payload columns, built ONLY on the JDK's public imaging stack
  * (`javax.imageio.ImageIO`, `java.awt.image.BufferedImage`) — zero
  * external dependencies, so it runs in the zero-egress build and on
  * any executor with a bare JRE, and it is headless-safe (BufferedImage
  * and Graphics2D never touch a display). This is the production codec
  * slot the r15 verdict asked to fill behind the deterministic stubs:
  * [[MultimodalOps.decodeFramesStub]] / [[MultimodalOps.resizeFramesStub]]
  * stay as the harness twins (byte-level, engine-portable), while these
  * operators decode REAL pixels, spec-verified against PNG fixtures
  * generated in-test (`ImageOpsSpec`) — no fixture leaves the JVM.
  *
  * Scale shape (the 100 TB contract): every operator is ONE
  * mapPartitions pass over (id, payload) — no shuffle, no collect, no
  * per-row codec construction; a corrupt or non-image payload yields a
  * loud `ok = false` row instead of failing the task (corrupt media is
  * a normal fraction of any crawl, and one bad byte stream must not
  * kill a 10k-file partition). `ImageIO.setUseCache(false)` keeps the
  * decode in-memory — the default disk-backed stream cache would write
  * a temp file per image on every executor.
  *
  * Reference scope note: the reference ETL (kenstt/small-etl) has no
  * media path at all — this extends the §2.11b multimodal family
  * (LM1-LM5) with the decode/resize/perceptual steps a training-data
  * pipeline needs between "payload bytes" and "dedup/curate". */
object ImageOps {

  /** Luma of an ARGB pixel in integer arithmetic (ITU-R BT.601 weights
    * ×1000): identical on every JVM — no float rounding to drift. */
  private def luma1000(argb: Int): Long = {
    val r = (argb >> 16) & 0xff
    val g = (argb >> 8) & 0xff
    val b = argb & 0xff
    299L * r + 587L * g + 114L * b
  }

  /** 60-bit average-hash over the DECODED pixels: the image is split
    * into an 8×8 grid of cells (boundaries ⌊k·dim/8⌋ — every pixel in
    * exactly one cell), bit k (k < 60, row-major) = [cell k's mean luma
    * > the mean of all 64 cell means]. 60 bits, not 64, so the code
    * drops straight into the corpus-scaled banded Hamming machinery
    * ([[LlmOps.stableBandWidth]] widths divide 60; the top 4 cells of
    * the bottom-right row are the discarded tail). All-integer: cell
    * sums in Long, the threshold compare cross-multiplied
    * (cellSum·totalPixels > totalSum·cellPixels) exactly like the byte
    * fingerprint. Deterministic across JVMs — the grid pooling is our
    * own arithmetic, not a Graphics2D filter. */
  private[graft] def aHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val cell = cy * 8 + math.min(7, x * 8 / w)
        sums(cell) += luma1000(img.getRGB(x, y))
        counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var totalSum = 0L
    var totalCount = 0L
    var i = 0
    while (i < 64) { totalSum += sums(i); totalCount += counts(i); i += 1 }
    var code = 0L
    i = 0
    while (i < 60) {
      // cross-multiplied mean compare in FULL 128-bit precision:
      // sums(i) ≤ 255000·counts(i) with counts ≈ n/64, so the 64-bit
      // product sums(i)·totalCount overflows at n ≈ 4.8e7 pixels
      // (~48 MP — a modern camera photo, r16 advice finding). All four
      // operands are non-negative, so Math.multiplyHigh's signed high
      // word IS the unsigned high word and the (hi, lo) pair compares
      // exactly for any image whose pixel count fits a Long.
      if (counts(i) > 0 &&
          cmp128(sums(i), totalCount, totalSum, counts(i)) > 0)
        code |= 1L << i
      i += 1
    }
    code
  }

  /** Compare a·b vs c·d exactly for non-negative Longs via the 128-bit
    * (high, low) product pair. Returns the sign of a·b − c·d. */
  private[graft] def cmp128(a: Long, b: Long, c: Long, d: Long): Int = {
    val hi1 = Math.multiplyHigh(a, b); val lo1 = a * b
    val hi2 = Math.multiplyHigh(c, d); val lo2 = c * d
    if (hi1 != hi2) java.lang.Long.compare(hi1, hi2)
    else java.lang.Long.compareUnsigned(lo1, lo2)
  }

  private def readImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try {
      javax.imageio.ImageIO.setUseCache(false)
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    } catch { case _: Throwable => None }

  /** Decode metadata + perceptual features in ONE pass: (id, ok, width,
    * height, mean_luma — BT.601 ×1000 as an exact integer —, ahash60).
    * Undecodable payloads (truncated files, non-image bytes, formats
    * without a registered reader) come back as ok = false with null
    * features — count them, don't crash on them. */
  def decodeImageMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("mean_luma1000", LongType, nullable = true),
      StructField("ahash60", LongType, nullable = true)))
    val rdd = df.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          readImage(r.getAs[Array[Byte]](1)) match {
            case Some(img) =>
              var sum = 0L
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  sum += luma1000(img.getRGB(x, y)); x += 1
                }
                y += 1
              }
              val n = img.getWidth.toLong * img.getHeight
              Row(id, true, img.getWidth, img.getHeight, sum / n, aHash60(img))
            case None => Row(id, false, null, null, null, null)
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Decode → bilinear resize to (targetW, targetH) → re-encode PNG.
    * Output: (id, ok, src_width, src_height, payload — the resized PNG
    * bytes, or null when the source didn't decode). PNG, not JPEG, for
    * the round-trip: it is lossless, so a spec can decode the output
    * and assert exact dimensions and stable perceptual codes. */
  def resizeImages(df: DataFrame, idCol: String, payloadCol: String,
      targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, s"bad target box: ${targetW}x$targetH")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("src_width", IntegerType, nullable = true),
      StructField("src_height", IntegerType, nullable = true),
      StructField("payload", BinaryType, nullable = true)))
    val rdd = df.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          readImage(r.getAs[Array[Byte]](1)) match {
            case Some(src) =>
              val dst = new java.awt.image.BufferedImage(
                targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(src, 0, 0, targetW, targetH, null)
              } finally g.dispose()
              val out = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(dst, "png", out)
              Row(id, true, src.getWidth, src.getHeight, out.toByteArray)
            case None => Row(id, false, null, null, null)
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Near-duplicate IMAGE pairs over real decoded pixels: the 60-bit
    * [[aHash60]] perceptual code + the SAME corpus-scaled banded
    * Hamming search every other fingerprint family uses
    * (pigeonhole-exact for maxHamming ≤ 3 at any corpus size, never
    * all-pairs). Undecodable payloads drop — no code, no pairs.
    * Output: (doc_a, doc_b, hamming). */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      maxHamming: Int = 3, n: Long = -1L): DataFrame = {
    require(maxHamming <= 3,
      s"stable banded search is exact only for maxHamming <= 3: $maxHamming")
    val width = LlmOps.stableBandWidth(if (n > 0) n else df.count())
    val codes = decodeImageMeta(df, idCol, payloadCol)
      .filter(col("ok"))
      .select(col("id").as(idCol), col("ahash60"))
    LlmOps.bandedHammingPairs(codes, idCol, maxHamming, width, 60 / width,
      codeCol = "ahash60")
  }

  /** Deterministic patch-statistics EMBEDDING over decoded pixels: the
    * image splits into a `grid`×`grid` cell lattice (boundaries
    * ⌊k·dim/grid⌋, every pixel in exactly one cell — the aHash60
    * pooling, finer); each cell contributes three CONTRAST features,
    * its per-channel (R, G, B) mean minus the whole image's channel
    * mean. Dimensions: grid²·3 (default 4×4×3 = 48 ≤ the ANN stack's
    * 64-dim default). Subtracting the image mean kills the DC
    * component, so cosine over these vectors measures spatial color
    * structure, not brightness — a global exposure shift moves every
    * feature by ~0, and a flat single-color image becomes the zero
    * vector (no structure to match; the ANN layer's nrm > 0 filter
    * drops it). Cell means are approximately preserved by bilinear
    * resize and lossy re-encode, which is exactly the robustness the
    * 60-bit aHash lacks once enough threshold bits flip — this is the
    * semantic-dedup slot of the image family (r16 verdict task #6).
    * Deterministic across JVMs: integer channel sums (exact — sums ≤
    * 255·2^31 < 2^53), one Double division per mean in fixed order,
    * one Float rounding per feature. Undecodable payloads come back
    * ok = false with a null embedding. */
  def imageEmbedding(df: DataFrame, idCol: String, payloadCol: String,
      grid: Int = 4): DataFrame = {
    require(grid >= 2 && grid <= 8, s"grid out of range: $grid")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ok", BooleanType),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    val rdd = df.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          readImage(r.getAs[Array[Byte]](1)) match {
            case Some(img) =>
              val (w, h) = (img.getWidth, img.getHeight)
              val cells = grid * grid
              val sums = new Array[Long](cells * 3)
              val counts = new Array[Long](cells)
              var y = 0
              while (y < h) {
                val cy = math.min(grid - 1, y * grid / h)
                var x = 0
                while (x < w) {
                  val cell = cy * grid + math.min(grid - 1, x * grid / w)
                  val argb = img.getRGB(x, y)
                  sums(cell * 3) += (argb >> 16) & 0xff
                  sums(cell * 3 + 1) += (argb >> 8) & 0xff
                  sums(cell * 3 + 2) += argb & 0xff
                  counts(cell) += 1
                  x += 1
                }
                y += 1
              }
              val totals = new Array[Long](3)
              var k = 0
              while (k < cells) {
                totals(0) += sums(k * 3); totals(1) += sums(k * 3 + 1)
                totals(2) += sums(k * 3 + 2); k += 1
              }
              val nPix = w.toLong * h
              val emb = new Array[Float](cells * 3)
              k = 0
              while (k < cells) {
                var c = 0
                while (c < 3) {
                  val cellMean =
                    if (counts(k) == 0) totals(c).toDouble / nPix
                    else sums(k * 3 + c).toDouble / counts(k)
                  emb(k * 3 + c) =
                    (cellMean - totals(c).toDouble / nPix).toFloat
                  c += 1
                }
                k += 1
              }
              Row(id, true, emb.toSeq)
            case None => Row(id, false, null)
          }
        }
      }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** SEMANTIC image near-duplicate pairs: [[imageEmbedding]]'s contrast
    * signature fed straight into the existing embedding ANN machinery
    * ([[LlmOps.embedNearDupPairs]]: corpus-scaled banded hyperplane
    * LSH candidates, exact-cosine verify, earliest-agreeing-band
    * emission) — so the image family gets resize/recompress-robust
    * dedup with the SAME 100 TB shape as text embeddings: bucketed
    * candidate generation, never all-pairs, one decode pass (the
    * eager-materialized persist inside embedNearDupPairs pins the
    * coded vectors, so the self-join does not decode twice).
    * Output: (keep_id, dup_id, cosine). `n` sizes the bucket space;
    * defaults to one cheap row count of `df` (payload rows, NOT a
    * decode pass). */
  def imageSemanticNearDupPairs(df: DataFrame, idCol: String,
      payloadCol: String, threshold: Double = 0.99, grid: Int = 4,
      n: Long = -1L): DataFrame = {
    val nn = if (n > 0) n else df.count()
    val embs = imageEmbedding(df, idCol, payloadCol, grid)
      .filter(col("ok"))
      .select(col("id").as(idCol), col("embedding"))
    LlmOps.embedNearDupPairs(embs, idCol, "embedding", threshold,
      dims = grid * grid * 3, n = nn)
  }

  /** IMAGE similarity SEARCH (top-k retrieval, r17 verdict task #5):
    * "find the k images most similar to each probe image" —
    * [[imageEmbedding]]'s contrast signature routed through the
    * IVF ANN stack ([[LlmOps.annTopKIvf]]: broadcast centroid
    * codebook, candidates scored ONLY within their home cell, per-probe
    * top-k window — cost scales with cell occupancy, never n²).
    * Completes the multimodal retrieval story next to the PAIR-dedup
    * path ([[imageSemanticNearDupPairs]]): dedup asks "which images
    * duplicate each other", this asks "what is nearest to THIS one".
    *
    * The embedding frame is pinned with an EAGER localCheckpoint
    * before entering the ANN stack: annTopKIvf reads its input on the
    * centroid, candidate, and probe sides, and each unpinned read
    * would re-decode every image — the decode pass must run exactly
    * once (the frame is narrow: grid²·3 floats per image). Undecodable
    * payloads can't embed and so neither probe nor match — consistent
    * with the dedup family's "no perceptual information" rule.
    *
    * The pin is RETAINED for the session (r18 advice item, documented
    * contract): localCheckpoint blocks are released only by session GC
    * or unpersist, and this helper cannot know when its caller's last
    * action ran. Long-lived sessions that call imageAnnTopK repeatedly
    * (probes timing it twice, interactive use) accumulate one pinned
    * narrow frame per call — grid²·3 floats per image; callers that
    * care should time/consume promptly or run inside a bounded
    * session, as the `multimodal_scale` probe does.
    *
    * `kCells`/`iters`/`nprobe` are the standard IVF knobs (see
    * annTopKIvf); recall at 100 TB is tuned with nprobe, cost with
    * kCells (≈ √n cells keeps occupancy ~√n). Not oracle-replayable
    * (the JDK image codec has no DuckDB twin) — spec-pinned against
    * the brute-force cosine ranking over the same embeddings instead,
    * exactly like LM8/LM9. Output: (probe_id, cand_id, cell, cosine). */
  def imageAnnTopK(df: DataFrame, idCol: String, payloadCol: String,
      probeFilter: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      topK: Int, grid: Int = 4, kCells: Int = 8, iters: Int = 0,
      nprobe: Int = 1): DataFrame = {
    val embs = imageEmbedding(df, idCol, payloadCol, grid)
      .filter(col("ok"))
      .select(col("id").as(idCol), col("embedding"))
      .localCheckpoint(true) // one decode pass, lineage cut
    LlmOps.annTopKIvf(embs, idCol, "embedding", probeFilter, topK,
      kCells, iters, nprobe, dims = grid * grid * 3)
  }
}
