package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Tables

/** Multimodal-column plumbing: media as opaque `binary` columns with
  * typed metadata, decode / feature-extract / frame-sample stages.
  *
  * The real decoders (image/audio/video libs) are NOT in this
  * container, so the byte-level decode is STUBBED with a deterministic
  * fake (md5-derived pseudo-metadata) — see `decodeStub`. Everything
  * Spark-side is real and tested: binary schema, partitioned typed
  * mapPartitions batch shape, explode-based frame sampling, and the
  * metadata expressions (which are pure column ops, so they also have
  * a DuckDB oracle).
  *
  * Scale notes: media blobs dominate row size, so the decode stage is
  * a narrow map (no shuffle) and metadata-only queries must prune the
  * blob column at the scan (`ReadSchema` without `payload`). Frame
  * sampling explodes rows but emits only (id, frame_idx, fingerprint)
  * — never decoded frames — keeping shuffle width constant.
  */
object MultimodalOps {

  /** The media view: each document's text bytes standing in for an
    * opaque media payload (binary column + id), as a real pipeline
    * would load from an object store.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload")
      )

  /** Metadata "decode" as pure column expressions (fake but
    * deterministic: dimensions from md5 hex digits of the payload,
    * format from byte length). Oracle-able in DuckDB.
    */
  def decodeMeta(spark: SparkSession, dir: String): DataFrame = {
    val h = md5(col("payload"))
    mediaTable(spark, dir)
      .select(
        col("media_id"),
        octet_length(col("payload")).cast("bigint").as("n_bytes"),
        when(octet_length(col("payload")) % 3 === 0, "image")
          .when(octet_length(col("payload")) % 3 === 1, "audio")
          .otherwise("video")
          .as("media_type"),
        (conv(substring(h, 1, 2), 16, 10).cast("bigint") + 64).as("width"),
        (conv(substring(h, 3, 2), 16, 10).cast("bigint") + 64).as("height")
      )
  }

  /** Frame sampling: every 2nd frame of bytes/64+1 synthetic
    * frames, each with a deterministic content fingerprint. The
    * explode shape (1 media row → n sampled frames, constant-width
    * output) is the real pipeline's; the per-frame fingerprint stands
    * in for the decoded frame feature.
    */
  def frameSample(spark: SparkSession, dir: String, step: Int = 2): DataFrame = {
    mediaTable(spark, dir)
      .withColumn("n_frames", (octet_length(col("payload")).cast("bigint") / 64).cast("bigint") + 1)
      .select(
        col("media_id"),
        col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(step.toLong))).as("frame_idx")
      )
      .select(
        col("media_id"),
        col("frame_idx"),
        md5(concat(md5(col("media_id").cast("string")), lit("_"), col("frame_idx").cast("string")))
          .as("frame_fp")
      )
  }

  val AudioWinBytes = 64

  /** Audio-style feature extraction over the raw payload: cut the byte
    * stream into fixed 64-byte windows (full windows only — the
    * sample-frame grid) and compute each window's "energy" = exact sum
    * of its byte values. This is the actual decode-side compute shape
    * (PCM frame energy / spectral feature per window), done on real
    * bytes — only the codec is faked, not the windowing or arithmetic.
    *
    * Scale shape: pure map stage — the explode emits (id, window)
    * index pairs and each energy reads only its own 64-byte slice, so
    * rows widen by bytes/64 while the payload column itself never
    * enters a shuffle. Integer energy needs no float discipline.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    // payload stays textual for the byte reads: the corpus is ASCII,
    // so codepoint(char i) IS byte i — the oracle mirrors
    // char-for-byte. The window sums come from the codegen
    // ascii_window_sums expression (one pass over the payload);
    // the old aggregate/transform/substring HOF nest was interpreted
    // and allocated a boxed single-char substring per byte.
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        posexplode(
          graft.functions.VectorExpressions
            .asciiWindowSums(col("text"), lit(AudioWinBytes))
        ).as(Seq("win_idx", "energy"))
      )
      .select(
        col("media_id"),
        col("win_idx").cast("bigint").as("win_idx"),
        (col("win_idx").cast("bigint") * AudioWinBytes).as("win_start"),
        col("energy")
      )
  }

  /** Average-hash (aHash) grid: 64 "pixels", each the exact integer
    * sum of an equal-width byte window over the payload prefix.
    */
  val AHashPixels = 64

  /** Per-media perceptual average-hash over the raw byte grid — the
    * multimodal twin of SimHash: resize the payload to a fixed
    * 64-cell grid (window width = bytes DIV 64, trailing remainder
    * dropped), light each bit whose cell sum exceeds the grid mean.
    * Near-identical payloads (re-encoded, padded, trailing-edit
    * copies) land within a few bits of each other; only the codec is
    * faked (char-for-byte on the ASCII corpus, like audioEnergy) —
    * the grid, arithmetic, and banding are the real aHash pipeline.
    * The mean compare is cross-multiplied (64·cell > total) so every
    * value the gate hashes is integer-exact on both engines.
    * Payloads shorter than 64 bytes have no grid and are skipped.
    */
  def aHash(spark: SparkSession, dir: String): DataFrame =
    aHashOf(Tables.documents(spark, dir).select(col("doc_id").as("media_id"), col("text")))

  /** The aHash fingerprint as a reusable projection over
    * (media_id, text) — shared by the corpus gate above and the
    * pHash-vs-aHash audit (which hashes the gradient-twin corpus).
    */
  private[graft] def aHashOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("w", expr(s"length(text) DIV $AHashPixels"))
      .filter(col("w") >= 1)
      // first 64 w-wide windows = positions 1..64w, the same grid the
      // old per-pixel aggregate/substring HOF built (codegen, one
      // pass; cps/w >= 64 windows exist whenever w = len div 64 >= 1)
      .withColumn(
        "pixels",
        slice(
          graft.functions.VectorExpressions
            .asciiWindowSums(col("text"), col("w").cast("int")),
          1,
          AHashPixels
        )
      )
      .withColumn("total", expr("aggregate(pixels, 0L, (a, x) -> a + x)"))
      .select(
        col("media_id"),
        expr(
          s"array_join(transform(pixels, p -> CASE WHEN ${AHashPixels}*p > total " +
            "THEN '1' ELSE '0' END), '')"
        ).as("ahash")
      )
  }

  val AHashHammingMax = 6

  /** Round 11 (cont.): ONE fused fingerprint pass over the
    * gradient-twin corpus, staged DURABLY per (session, corpus) —
    * both hash families share the same 64-window byte grid, so the
    * expensive per-char work (twin ramp construction + window sums)
    * runs once and emits (media_id, ahash, phash) together. THREE
    * consumers previously each re-fingerprinted a corpus variant:
    * the aHash pair build (base corpus = the twin table filtered to
    * media_id < [[PhashTwinBase]] — base rows are unchanged by the
    * twin union), the pHash pair build, and the vs-audit (which ran
    * BOTH kernels over its own checkpoint). Guide-§8 "fingerprints
    * only": decode/hash once, every decision pass reads the compact
    * staged table. Corpus-co-scaled ⇒ durable parquet staging, never
    * pinned registry blocks.
    */
  private[graft] def mediaFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Artifacts.stage(spark, dir, "media_fp")(
      mediaFingerprintsBuild(spark, dir))

  private[graft] def mediaFingerprintsBuild(spark: SparkSession, dir: String): DataFrame = {
    phashDocs(spark, dir)
      // documents is one small file = one partition; spread the
      // ramp/window-sum work (at real scale the scan is already split)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("w", expr(s"length(text) DIV $AHashPixels"))
      .filter(col("w") >= 1)
      .withColumn(
        "pixels",
        slice(
          graft.functions.VectorExpressions
            .asciiWindowSums(col("text"), col("w").cast("int")),
          1,
          AHashPixels
        )
      )
      .withColumn("total", expr("aggregate(pixels, 0L, (a, x) -> a + x)"))
      .select(
        col("media_id"),
        expr(
          s"array_join(transform(pixels, p -> CASE WHEN ${AHashPixels}*p > total " +
            "THEN '1' ELSE '0' END), '')"
        ).as("ahash"),
        graft.functions.VectorExpressions.phash64(col("pixels"), col("w")).as("phash")
      )
  }

  /** Near-duplicate media pairs by aHash hamming distance, banded
    * exactly like DedupOps.simhashPairs: 4 x 16-bit bands generate
    * candidates (hamming <= 3 guaranteed caught; <= 6 is the verify
    * threshold), so the pair join is an equi join on (band_idx, bits)
    * — 64-char hash strings shuffle, payload bytes never do. This is
    * the image-dedup shape (pHash bucketing) with the decode stubbed.
    *
    * Memoized via [[graft.operators.Artifacts]] (two consumers: the
    * pair gate query and `mm_clusters`) — pair-bounded, so the media
    * corpus is fingerprinted once, not once per consumer.
    */
  def aHashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Artifacts.memo(spark, dir, "ahash_pairs")(aHashPairsBuild(spark, dir))

  private[graft] def aHashPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    // staged fused fingerprints; base corpus rows are the twin table
    // below the twin-id offset (their text is unchanged by the union)
    val fp = mediaFingerprints(spark, dir)
      .filter(col("media_id") < PhashTwinBase)
      .select(col("media_id"), col("ahash"))
    val banded = fp.select(
      col("media_id"),
      col("ahash"),
      posexplode(
        transform(sequence(lit(0), lit(3)), b => col("ahash").substr(b * 16 + 1, lit(16)))
      ).as(Seq("band_idx", "band_bits"))
    )
    val a = banded.select(col("band_idx"), col("band_bits"),
      col("media_id").as("media_a"), col("ahash").as("ah_a"))
    val b = banded.select(col("band_idx"), col("band_bits"),
      col("media_id").as("media_b"), col("ahash").as("ah_b"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), col("ah_a"), col("ah_b"))
      .dropDuplicates("media_a", "media_b")
      .withColumn(
        "hamming",
        graft.functions.VectorExpressions.hammingBits(col("ah_a"), col("ah_b"))
      )
      .filter(col("hamming") <= AHashHammingMax)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }

  // ── DCT perceptual hash (pHash) ───────────────────────────────────

  /** Gradient-twin ramp ceiling: twin char i is shifted by
    * ⌊i·16/len⌋ — a smooth illumination gradient across the payload.
    */
  val PhashRampMax = 16L

  /** Twin-id offset: gradient twins live at media_id + this, so
    * `media_id < PhashTwinBase` selects exactly the base corpus.
    */
  val PhashTwinBase = 6000000000L

  /** The pHash corpus (mirrored in the oracle CTE): every media doc
    * plus, for doc_id % 23 = 0, a GRADIENT twin (id + 6·10⁹) whose
    * every char is codepoint-shifted by the position ramp — the
    * smooth illumination change that lives in the LOWEST spatial
    * frequencies, so the DCT hash moves a few bits where the aHash
    * bit grid (every pixel vs the global mean) flips pixels all along
    * the ramp. Planted from doc_id residues so the pair gate and the
    * vs-aHash audit are non-vacuous at every SF.
    */
  private[graft] def phashDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables
      .documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("text"))
    val twins = base
      .filter(pmod(col("media_id"), lit(23L)) === 0L)
      .select(
        (col("media_id") + 6000000000L).as("media_id"),
        when(length(col("text")) === 0, col("text")).otherwise(
          expr(
            s"""array_join(transform(split(text, ''),
               |  (c, i) -> char(ascii(c) +
               |    CAST((CAST(i AS BIGINT) * $PhashRampMax)
               |         DIV GREATEST(length(text), 1) AS INT))), '')""".stripMargin
          )
        ).as("text")
      )
    base.unionByName(twins)
  }

  /** The pHash fingerprint as a reusable projection over
    * (media_id, text): the SAME 64-window byte grid as [[aHashOf]],
    * then the fixed-point 8×8 DCT and the frequency-domain mean
    * compare — all in ONE codegen scalar
    * ([[graft.functions.PhashKernel]]; see its scaladoc for the
    * exact-integer argument and the brightness-invariance identity).
    * Scan-stage only; payloads shorter than 64 bytes are skipped like
    * aHash.
    */
  private[graft] def phashOf(docs: DataFrame): DataFrame = {
    docs
      .withColumn("w", expr(s"length(text) DIV $AHashPixels"))
      .filter(col("w") >= 1)
      .withColumn(
        "pixels",
        slice(
          graft.functions.VectorExpressions
            .asciiWindowSums(col("text"), col("w").cast("int")),
          1,
          AHashPixels
        )
      )
      .select(
        col("media_id"),
        graft.functions.VectorExpressions.phash64(col("pixels"), col("w")).as("phash")
      )
  }

  /** Near-duplicate media pairs by pHash hamming distance over the
    * gradient-twin corpus — identical banding/verify shape to
    * [[aHashPairs]] (4 × 16-bit bands, hamming ≤ 6), so the two
    * fingerprint families are directly comparable join-for-join.
    * Memoized (the pair gate and the audit both read it).
    */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Artifacts.memo(spark, dir, "phash_pairs")(phashPairsBuild(spark, dir))

  private[graft] def phashPairsBuild(spark: SparkSession, dir: String): DataFrame = {
    val fp = mediaFingerprints(spark, dir).select(col("media_id"), col("phash"))
    val banded = fp.select(
      col("media_id"),
      col("phash"),
      posexplode(
        transform(sequence(lit(0), lit(3)), b => col("phash").substr(b * 16 + 1, lit(16)))
      ).as(Seq("band_idx", "band_bits"))
    )
    val a = banded.select(col("band_idx"), col("band_bits"),
      col("media_id").as("media_a"), col("phash").as("ph_a"))
    val b = banded.select(col("band_idx"), col("band_bits"),
      col("media_id").as("media_b"), col("phash").as("ph_b"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), col("ph_a"), col("ph_b"))
      .dropDuplicates("media_a", "media_b")
      .withColumn(
        "hamming",
        graft.functions.VectorExpressions.hammingBits(col("ph_a"), col("ph_b"))
      )
      .filter(col("hamming") <= AHashHammingMax)
      .select(col("media_a"), col("media_b"), col("hamming"))
  }

  /** pHash-vs-aHash BAKE-OFF over the planted gradient twins: both
    * fingerprint families hash the SAME twin corpus, and each planted
    * (base, twin) pair reports its hamming under both — n_caught at
    * the shared ≤ 6 threshold and the catch ppm price what the DCT
    * hash buys (smooth illumination changes concentrate in the low
    * DCT frequencies; the aHash mean grid has no frequency separation
    * and bleeds the ramp across all 64 bits). The detector_bakeoff
    * discipline applied to the image family.
    *
    * Scale: two scan-stage fingerprint passes over the twin corpus
    * and ONE id-keyed equi-join of #twins rows — no banding needed
    * because the pair list is planted, not discovered.
    */
  def phashVsAhash(spark: SparkSession, dir: String): DataFrame = {
    // both families read the ONE staged fused fingerprint table — the
    // audit no longer runs either kernel itself
    val fp = mediaFingerprints(spark, dir)
    def fam(name: String, c: String): DataFrame = {
      val base = fp.filter(col("media_id") < PhashTwinBase)
        .select(col("media_id").as("base_id"), col(c).as("fp_a"))
      val twin = fp.filter(col("media_id") >= PhashTwinBase)
        .select((col("media_id") - PhashTwinBase).as("base_id"), col(c).as("fp_b"))
      base
        .join(twin, Seq("base_id"))
        .withColumn(
          "hamming",
          graft.functions.VectorExpressions.hammingBits(col("fp_a"), col("fp_b"))
        )
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("hamming") <= AHashHammingMax, 1L).otherwise(0L)).as("n_caught"),
          sum(col("hamming")).as("sum_hamming")
        )
        .select(
          lit(name).as("family"),
          col("n_pairs"),
          col("n_caught"),
          col("sum_hamming"),
          expr("CAST(CAST(n_caught AS DECIMAL(38,0)) * 1000000 DIV GREATEST(n_pairs, 1) AS BIGINT)")
            .as("catch_ppm")
        )
    }
    fam("ahash", "ahash")
      .unionAll(fam("phash", "phash"))
  }

  /** Typed decoded-media record (what a real decoder would emit). */
  final case class MediaMeta(
      media_id: Long,
      n_bytes: Long,
      media_type: String,
      width: Int,
      height: Int,
      checksum: String
  )

  /** mapPartitions decode — the seam where the media decoder plugs
    * in. Image payloads (PNG/BMP/GIF — anything the pure-JVM
    * `javax.imageio` registry parses) take the REAL decode path
    * (`realDecode`); everything else (this repo's synthetic text
    * payloads, and in production any codec the JVM lacks) falls back
    * to the deterministic stub. The partition iteration, batch shape,
    * and typed output schema are the same either way and are covered
    * by tests; the real path is exercised end-to-end by
    * `imagePixelStats` (gate query `mm_image_pixels`) over genuinely
    * encoded-then-decoded PNG pixels.
    */
  def decodeBatch(spark: SparkSession, dir: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // no executor tmp files
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some(img) => realDecode(md, id, payload, img)
            case None => decodeStub(md, id, payload)
          }
        }
      }
  }

  /** Container sniff + decode via the JVM's ImageIO registry; None
    * when no installed reader claims the payload.
    */
  private[graft] def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))

  /** Real decoder: true pixel dimensions from the decoded raster (the
    * retired round-4 `???` hook — javax.imageio needs no native libs).
    */
  private[graft] def realDecode(
      md: java.security.MessageDigest,
      id: Long,
      payload: Array[Byte],
      img: java.awt.image.BufferedImage
  ): MediaMeta = {
    md.reset()
    MediaMeta(
      media_id = id,
      n_bytes = payload.length.toLong,
      media_type = "image",
      width = img.getWidth,
      height = img.getHeight,
      checksum = md.digest(payload).map("%02x".format(_)).mkString
    )
  }

  private def decodeStub(
      md: java.security.MessageDigest,
      id: Long,
      payload: Array[Byte]
  ): MediaMeta = {
    md.reset()
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val n = payload.length.toLong
    MediaMeta(
      media_id = id,
      n_bytes = n,
      media_type = (n % 3) match {
        case 0 => "image"
        case 1 => "audio"
        case _ => "video"
      },
      width = Integer.parseInt(hex.substring(0, 2), 16) + 64,
      height = Integer.parseInt(hex.substring(2, 4), 16) + 64,
      checksum = hex
    )
  }

  /** Scene-cut threshold: a frame-to-frame energy jump above this is
    * a cut. 512 over a 64-byte frame = the mean byte value moving by
    * >8 — a codec-level constant (per-frame, corpus-size-free), not a
    * scale-dependent tuning knob.
    */
  val SceneCutDelta = 512L

  /** Video scene-cut detection over the synthetic frame grid:
    * consecutive-frame energy deltas per media, cuts counted above
    * the fixed per-frame threshold — the shot-segmentation pass of a
    * video curation pipeline (sample frames → feature per frame →
    * temporal delta → segment). Reuses audioEnergy's 64-byte frame
    * windows (only the codec is faked; the windowing, lag and
    * thresholding are the real pipeline). Single-frame media report
    * max_delta = 0 by contract (no NULL reaches the gate).
    *
    * Scale: the frame stream shuffles once on media_id; the lag
    * window holds O(1) state; the aggregate collapses to one row per
    * media. Payload bytes never shuffle (energies already extracted).
    */
  /** Media near-dup clusters: the aHash hamming pairs resolved into
    * connected components (same GraphOps engine and output contract
    * as the text-side dedup_clusters) — re-encoded/padded copies of
    * one asset chain through pairwise hits into one cluster with a
    * canonical id, completing the media dedup pipeline
    * (hash → banded pairs → clusters).
    *
    * Scale: the pair graph is banded-candidate-bounded; component
    * resolution inherits GraphOps' hybrid (bounded driver union-find
    * under 2M edges, distributed label propagation above).
    */
  def mmClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = aHashPairs(spark, dir).select(col("media_a"), col("media_b"))
    val comps = graft.operators.GraphOps
      .connectedComponents(pairs, "media_a", "media_b")
      .localCheckpoint()
    val sizes = comps.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    comps
      .join(sizes, Seq("label"))
      .select(
        col("doc").as("media_id"),
        col("label").as("canonical_id"),
        col("cluster_size"),
        (col("doc") === col("label")).as("is_canonical")
      )
  }

  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("media_id")).orderBy(col("win_idx"))
    audioEnergy(spark, dir)
      .withColumn("prev_e", lag(col("energy"), 1).over(w))
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(
          when(
            col("prev_e").isNotNull &&
              abs(col("energy") - col("prev_e")) > SceneCutDelta,
            1L
          ).otherwise(0L)
        ).as("n_cuts"),
        coalesce(
          max(when(col("prev_e").isNotNull, abs(col("energy") - col("prev_e")))),
          lit(0L)
        ).as("max_delta")
      )
  }

  /** Real-codec gate query (`mm_image_pixels`): per document, build a
    * small grayscale image from a DETERMINISTIC pixel formula
    * (pixel(x, y) = (doc_id·31 + 7x + 13y) mod 256 on a
    * (8 + id mod 8) × (8 + id mod 5) raster), ENCODE it to real PNG
    * bytes, then run the payload through the SAME ImageIO decode seam
    * production media takes — and emit width/height/pixel-sum read
    * from the DECODED raster. The DuckDB oracle recomputes the
    * expected numbers relationally from the formula, so the gate
    * fails iff the encode→decode round trip misreads a single pixel:
    * the decode path is verified against an independent engine, not
    * against itself.
    *
    * Scale: a narrow mapPartitions (encode+decode per row, no
    * shuffle) — the real decode stage's plan shape; only 5 small
    * integer columns leave the map, payload bytes never move.
    */
  def imagePixelStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val w = (8 + id % 8).toInt
          val h = (8 + id % 5).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var x = 0
          while (x < w) {
            var y = 0
            while (y < h) {
              raster.setSample(x, y, 0, ((id * 31 + 7 * x + 13 * y) % 256).toInt)
              y += 1
            }
            x += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val decoded = decodeImage(bos.toByteArray).getOrElse(
            sys.error(s"PNG round trip failed for media $id"))
          val dr = decoded.getRaster
          var sum = 0L
          var n = 0L
          var dx = 0
          while (dx < decoded.getWidth) {
            var dy = 0
            while (dy < decoded.getHeight) {
              sum += dr.getSample(dx, dy, 0)
              n += 1
              dy += 1
            }
            dx += 1
          }
          (id, decoded.getWidth.toLong, decoded.getHeight.toLong, n, sum)
        }
      }
      .toDF("media_id", "width", "height", "n_pixels", "pixel_sum")
  }

  /** Real-codec AUDIO gate query (`mm_wav_stats`) — the WAV twin of
    * `imagePixelStats`: per document, synthesize a deterministic
    * 16-bit PCM mono signal (sample(t) = (doc_id·131 + 17t) mod 2¹⁶
    * − 2¹⁵ over 64 + id mod 64 samples), ENCODE it to a real RIFF/WAV
    * container via `javax.sound.sampled`, decode it back through
    * `AudioSystem` (header parse + frame read — the production audio
    * seam), and emit frame count / sample rate / absolute-amplitude
    * sum read from the DECODED frames. The DuckDB oracle recomputes
    * the same integers from the formula, so the gate fails iff the
    * encode→decode round trip misreads a sample.
    *
    * Scale: narrow mapPartitions, no shuffle, 4 integer columns out —
    * the mm_image_pixels plan shape.
    */
  def wavStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .documents(spark, dir)
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (64 + id % 64).toInt
          val pcm = new Array[Byte](n * 2)
          var t = 0
          while (t < n) {
            val s = (((id * 131 + 17L * t) % 65536) - 32768).toInt
            pcm(2 * t) = (s & 0xff).toByte // little-endian 16-bit
            pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
            t += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(
            ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          // the production seam: container sniff + header parse + frames
          val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          val f = back.getFormat
          require(f.getSampleSizeInBits == 16 && f.getChannels == 1,
            s"WAV round trip changed the format for media $id")
          val frames = back.readAllBytes()
          val m = frames.length / 2
          var absSum = 0L
          var i = 0
          while (i < m) {
            val lo = frames(2 * i) & 0xff
            val hi = frames(2 * i + 1).toInt // sign-carrying high byte
            absSum += math.abs((hi << 8) | lo)
            i += 1
          }
          (id, m.toLong, f.getSampleRate.toLong, absSum)
        }
      }
      .toDF("media_id", "n_samples", "sample_rate", "abs_sum")
  }

  /** Voice-activity-style gating over the audio window energies — the
    * silence-trimming pass an audio curation pipeline runs before
    * anything expensive touches a clip (keep speech-dense segments,
    * drop dead air). A window is ACTIVE iff its energy exceeds its own
    * media's mean, cross-multiplied (energy·n_windows > total) so the
    * decision is integer-exact and self-normalizing — no corpus-level
    * threshold to tune, and any media with two distinct window
    * energies has both classes (structural non-vacuity). Reports per
    * media the window count, active count, the LONGEST active run
    * (the retained "speech segment" length), and active ppm.
    *
    * Scale: pure row-local column work — the window sums come from the
    * codegen `ascii_window_sums` pass ([[audioEnergy]]'s kernel), the
    * run-length fold walks the bounded per-media array; no shuffle at
    * all. Media shorter than one window are skipped (no grid), like
    * [[aHash]].
    */
  def mmAudioVad(spark: SparkSession, dir: String): DataFrame = {
    vadProjection(Tables.documents(spark, dir))
  }

  /** The VAD gate as a reusable projection over (doc_id, text) — ONE
    * definition, two transports: [[mmAudioVad]] and the ingest edge
    * (`streaming.IngestEdge.projections`) plan exactly these Columns.
    * Needs the graft SQL functions (`ascii_window_sums`) that
    * GraftExtensions injects.
    */
  private[graft] def vadProjection(docs: DataFrame): DataFrame = {
    docs
      .select(
        col("doc_id").as("media_id"),
        graft.functions.VectorExpressions
          .asciiWindowSums(col("text"), lit(AudioWinBytes)).as("es")
      )
      .filter(size(col("es")) >= 1)
      .withColumn("n_windows", size(col("es")).cast("bigint"))
      .withColumn("total", expr("aggregate(es, 0L, (a, x) -> a + x)"))
      .withColumn("act", expr("transform(es, e -> e * n_windows > total)"))
      .select(
        col("media_id"),
        col("n_windows"),
        expr("CAST(size(filter(act, x -> x)) AS BIGINT)").as("n_active"),
        expr(
          """aggregate(act, named_struct('cur', 0L, 'best', 0L),
            | (s, x) -> CASE WHEN x
            |   THEN named_struct('cur', s.cur + 1L,
            |                     'best', GREATEST(s.best, s.cur + 1L))
            |   ELSE named_struct('cur', 0L, 'best', s.best) END).best""".stripMargin
        ).as("longest_run")
      )
      .withColumn(
        "active_ppm",
        expr("CAST(CAST(n_active AS DECIMAL(38,0)) * 1000000 DIV n_windows AS BIGINT)")
      )
  }
}
