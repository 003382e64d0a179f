package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.model.Tables

/** Media over binary columns: multimodal plumbing, real video decode, and
  * perceptual image/audio/video fingerprints with their pair, cluster,
  * streaming-filter and keep-one faces. */
object MediaQueries {

  /** The rendered PNG frame (doc_id, png) behind [[imageDedupFps]] —
    * exposed separately so q_image_neardup_filter can drive the
    * streaming batch face (FingerprintDedupStream.filterBatch), whose
    * contract is RAW media in, fingerprints extracted inside. */
  private def imageDedupPngs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 === 0)
      .as[Long].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 191
        }
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def base(x: Int, y: Int): Int = draw(s"${g}_${x}_$y") + 30
          def cell(x: Int, y: Int): Int =
            if (m == 2 && x == 0 && y == 0) {
              // guaranteed single-comparison flip: 255 clears the
              // 30..221 value range upward, 0 clears it downward
              if (base(0, 0) < base(1, 0)) 255 else 0
            } else base(x, y) + (if (m == 1) 1 else 0)
          val img = new java.awt.image.BufferedImage(18, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var py = 0
          while (py < 16) {
            var px = 0
            while (px < 18) {
              val v = cell(px / 2, py / 2)
              img.setRGB(px, py, (v << 16) | (v << 8) | v)
              px += 1
            }
            py += 1
          }
          (id, Multimodal.writeImage(img, "png"))
        }
      }.toDF("doc_id", "png")
  }

  /** Deterministic group-patterned PNG fingerprints shared by the
    * image-dedup family (q_image_dedup / q_image_dedup_keep): renders
    * an 18×16 gray block image per sampled doc (2×2 blocks of a 9×8
    * cell grid), PNG-encodes it executor-side, and runs the REAL
    * decode → pixel-center resample → integer dHash path. Cell values
    * are md5 draws, NOT a polynomial mix: any low-degree arithmetic in
    * (g, cell) is smooth enough that a birthday search over millions
    * of group pairs finds near-identical patterns (measured at the sf1
    * probe: ~50% spurious cross-group pairs for a quadratic mod-prime
    * mix); md5 is the repo's engine-shared coin (simhash/walks
    * precedent), and its first 16 bits mod 191 give uniform
    * multi-valued cells — comparison bits at p = 1/2, cross-group
    * hamming concentrated at ~31.5/63. */
  private def imageDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.ImageHash.fingerprints(
      Multimodal.attach(imageDedupPngs(s, dir), "doc_id", "png", "png")
        .as[Multimodal.MediaRow])
  }

  /** The synthesized RIFF/WAVE clips (doc_id, wav) behind
    * [[audioDedupFps]] — exposed separately so q_audio_neardup_filter
    * can drive the streaming batch face (raw media in, fingerprints
    * extracted inside). One source of truth for the clip synthesis
    * (see the q_audio_dedup comment for the group/member scheme). */
  private def audioDedupWavs(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id"))
      .filter(col("doc_id") % 10 === 0)
      .as[Long].mapPartitions { it =>
        // md5 amplitude draw (see q_image_dedup: polynomial mixes
        // leak birthday-searchable cross-group correlation)
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 191
        }
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def amp(w: Int): Int = draw(s"${g}_a_$w") + 10
          def a(w: Int): Int =
            if (m == 2 && w == 0) {
              // guaranteed flip: 250 clears the 10..200 range upward,
              // 5 clears it downward
              if (amp(0) < amp(1)) 250 else 5
            } else amp(w) * (if (m == 1) 2 else 1)
          val samples = Array.tabulate[Short](512) { i =>
            val v = a(i / 8)
            (if (i % 2 == 0) v else -v).toShort
          }
          (id, Multimodal.muxPcmWav(samples, 8000, 1))
        }
      }.toDF("doc_id", "wav")
  }

  private def audioDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.AudioHash.fingerprints(
      Multimodal.attach(audioDedupWavs(s, dir), "doc_id", "wav", "wav")
        .as[Multimodal.MediaRow])
  }

  /** The muxed MJPEG-AVI clips (doc_id, avi) behind [[videoDedupFps]]
    * — exposed separately for the q_video_neardup_filter batch face
    * (see the q_video_dedup comment for the level-grid scheme and the
    * ±3 JPEG bound). */
  private def videoDedupAvis(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // parallelism floor: 64 JPEG encodes + the AVI mux per row is the
    // densest synthesis in the media family and otherwise runs in a
    // single-task scan stage (Parallelism doc). The image/audio
    // synthesizers are deliberately NOT floored - their per-row work
    // is too cheap to amortize the extra exchange (measured +40%).
    graft.model.Parallelism.floor(
        Tables.documents(s, dir).select(col("doc_id"))
          .filter(col("doc_id") % 10 === 0))
      .as[Long].mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(key: String): Int = {
          val d = md.digest(key.getBytes("UTF-8"))
          (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 10
        }
        // one JPEG per distinct gray level, memoized per partition
        val frameCache = scala.collection.mutable.Map.empty[Int, Array[Byte]]
        def frame(level: Int): Array[Byte] =
          frameCache.getOrElseUpdate(level, {
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (level << 16) | (level << 8) | level
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            Multimodal.writeImage(img, "jpg")
          })
        it.map { id =>
          val idp = id / 10
          val g = idp / 3
          val m = idp % 3
          def lvl(w: Int): Int = draw(s"${g}_v_$w") * 20 + 20
          def level(w: Int): Int =
            if (m == 2 && w == 0) {
              // guaranteed flip: 240 clears the 20..208 range upward
              // (beyond the +3 JPEG bound), 0 clears it downward
              if (lvl(0) < lvl(1)) 240 else 0
            } else lvl(w) + (if (m == 1) 8 else 0)
          val frames = (0 until 64).map(w => frame(level(w)))
          (id, Multimodal.muxMjpegAvi(frames, 8, 8))
        }
      }.toDF("doc_id", "avi")
  }

  private def videoDedupFps(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.ext.VideoHash.fingerprints(
      Multimodal.attach(videoDedupAvis(s, dir), "doc_id", "avi", "avi")
        .as[Multimodal.MediaRow])
  }

  /** The q_*_neardup_filter batch face over one media family (`blob`:
    * its binary column and format; see q_image_neardup_filter). */
  private def neardupFilter(s: SparkSession, media: DataFrame,
      blob: String, fingerprints: Dataset[Multimodal.MediaRow] => DataFrame,
      fpCol: String): DataFrame = {
    import s.implicits._
    val fp: DataFrame => DataFrame =
      b => fingerprints(Multimodal.attach(b, "doc_id", blob, blob)
          .as[Multimodal.MediaRow])
        .select(col("media_id").as("doc_id"), col(fpCol))
    val corpusFps =
      fp(media.filter(expr("((doc_id div 10) div 3) % 2 = 0")))
        .localCheckpoint()
    graft.streaming.FingerprintDedupStream.filterBatch(corpusFps,
      media.filter(expr("((doc_id div 10) div 3) % 2 = 1")), fp,
      "doc_id", fpCol, maxHamming = 3)
      .select(col("doc_id"))
  }

  /** [[neardupFilter]]'s oracle over one family's fingerprint replay
    * (`fpCtes` defines `fp(doc_id, f)`): the stream's keep-min drop
    * policy over the banded-Hamming pair set — an odd-GROUP (batch)
    * item drops as the larger side of ANY pair, or as the smaller side
    * of a pair whose larger side is even-group (indexed);
    * q_neardup_filter's oracle shape, so each odd group's minimum
    * member survives. The keep rule is modality-blind. */
  private def neardupFilterOracle(fpCtes: String): String =
    s"""WITH $fpCtes,
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         dropped AS (
           SELECT doc_b AS doc_id FROM pairs
           WHERE ((doc_b // 10) // 3) % 2 = 1
           UNION
           SELECT doc_a FROM pairs
           WHERE ((doc_a // 10) // 3) % 2 = 1
             AND ((doc_b // 10) // 3) % 2 = 0)
         SELECT doc_id FROM fp
         WHERE ((doc_id // 10) // 3) % 2 = 1
           AND doc_id NOT IN (SELECT doc_id FROM dropped)"""

  /** Cross-modality id offsets for the unified media keep row — far
    * above any doc_id at every shipped SF (ids are dense row numbers),
    * so the three pair graphs' node spaces never collide. */
  private[queries] val MediaAudioOff: Long = 1L << 40

  private[queries] val MediaVideoOff: Long = 1L << 41

  /** The unified cross-modality near-dup pair graph (offset id spaces)
    * — shared by q_media_dedup_keep (the keep/drop election) and
    * q_e2e_curation (the media gate). */
  private[queries] def mediaPairGraph(s: SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val img = graft.ext.ImageHash.nearDupPairs(
      imageDedupFps(s, dir), "dhash", maxHamming = 3)
      .select(col("doc_a"), col("doc_b"))
    val aud = graft.ext.AudioHash.nearDupPairs(
      audioDedupFps(s, dir), maxHamming = 3)
      .select((col("doc_a") + MediaAudioOff).as("doc_a"),
        (col("doc_b") + MediaAudioOff).as("doc_b"))
    val vid = graft.ext.VideoHash.nearDupPairs(
      videoDedupFps(s, dir), maxHamming = 3)
      .select((col("doc_a") + MediaVideoOff).as("doc_a"),
        (col("doc_b") + MediaVideoOff).as("doc_b"))
    img.unionByName(aud).unionByName(vid)
  }

  /** The image-dedup fingerprint replay (cells → comparisons → 63-bit
    * fp), shared by the q_image_* family — one source of truth for the
    * fingerprint semantics, like minhashLshOracle. CTE names take a
    * prefix so q_media_dedup_keep can splice all three modality
    * replays into one WITH block. */
  private[queries] def imageFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}grid AS (SELECT x, y FROM range(9) tx(x) CROSS JOIN range(8) ty(y)),
         ${p}draws AS (
           SELECT doc_id, g, m, x, y,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 1, 1)) - 1) * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 2, 1)) - 1) * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 3, 1)) - 1) * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_'||CAST(x AS VARCHAR)||'_'||
                 CAST(y AS VARCHAR)), 4, 1)) - 1)) % 191 + 30 AS base
           FROM ${p}ids CROSS JOIN ${p}grid),
         ${p}b00 AS (SELECT doc_id, base AS v00 FROM ${p}draws WHERE x = 0 AND y = 0),
         ${p}b10 AS (SELECT doc_id, base AS v10 FROM ${p}draws WHERE x = 1 AND y = 0),
         ${p}cells AS (
           SELECT d.doc_id, d.x, d.y,
             CASE WHEN d.m = 2 AND d.x = 0 AND d.y = 0 THEN
               CASE WHEN b00.v00 < b10.v10 THEN 255 ELSE 0 END
             ELSE d.base + CASE WHEN d.m = 1 THEN 1 ELSE 0 END
             END AS v
           FROM ${p}draws d
           JOIN ${p}b00 b00 ON b00.doc_id = d.doc_id
           JOIN ${p}b10 b10 ON b10.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.y * 8 + l.x AS j,
                  CASE WHEN l.v < r.v THEN 1 ELSE 0 END AS b
           FROM ${p}cells l JOIN ${p}cells r
             ON r.doc_id = l.doc_id AND r.y = l.y AND r.x = l.x + 1
           WHERE l.x <= 7 AND NOT (l.x = 7 AND l.y = 7)),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  /** The audio-dedup fingerprint replay (window amplitudes →
    * comparisons → 63-bit fp), shared by q_audio_dedup and
    * q_media_dedup_keep — window energy 8·a² is monotone in a > 0, so
    * `<` on amplitudes IS the contour bit. */
  private[queries] def audioFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}win AS (SELECT w FROM range(64) tw(w)),
         ${p}draws AS (
           SELECT doc_id, g, m, w,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 1, 1)) - 1)
                * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 2, 1)) - 1)
                * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 3, 1)) - 1)
                * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_a_'||CAST(w AS VARCHAR)), 4, 1)) - 1))
             % 191 + 10 AS amp
           FROM ${p}ids CROSS JOIN ${p}win),
         ${p}a0 AS (SELECT doc_id, amp AS amp0 FROM ${p}draws WHERE w = 0),
         ${p}a1 AS (SELECT doc_id, amp AS amp1 FROM ${p}draws WHERE w = 1),
         ${p}amps AS (
           SELECT d.doc_id, d.w,
             CASE WHEN d.m = 2 AND d.w = 0 THEN
               CASE WHEN a0.amp0 < a1.amp1 THEN 250 ELSE 5 END
             ELSE d.amp * (CASE WHEN d.m = 1 THEN 2 ELSE 1 END)
             END AS a
           FROM ${p}draws d
           JOIN ${p}a0 a0 ON a0.doc_id = d.doc_id
           JOIN ${p}a1 a1 ON a1.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.w AS j,
                  CASE WHEN l.a < r.a THEN 1 ELSE 0 END AS b
           FROM ${p}amps l JOIN ${p}amps r
             ON r.doc_id = l.doc_id AND r.w = l.w + 1
           WHERE l.w <= 62),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  /** The video-dedup fingerprint replay (frame levels → comparisons →
    * 63-bit fp), shared by q_video_dedup and q_media_dedup_keep —
    * solid-gray JPEG decodes within ±3 of its level, so with
    * ≥20-level gaps `<` on LEVELS is the decoded contour bit. */
  private[queries] def videoFpCtes(p: String = ""): String =
    s"""${p}ids AS (
           SELECT doc_id, (doc_id // 10) // 3 AS g, (doc_id // 10) % 3 AS m
           FROM documents WHERE doc_id % 10 = 0),
         ${p}win AS (SELECT w FROM range(64) tw(w)),
         ${p}draws AS (
           SELECT doc_id, g, m, w,
             ((strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 1, 1)) - 1)
                * 4096 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 2, 1)) - 1)
                * 256 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 3, 1)) - 1)
                * 16 +
              (strpos('0123456789abcdef', substr(md5(
                 CAST(g AS VARCHAR)||'_v_'||CAST(w AS VARCHAR)), 4, 1)) - 1))
             % 10 * 20 + 20 AS lvl
           FROM ${p}ids CROSS JOIN ${p}win),
         ${p}l0 AS (SELECT doc_id, lvl AS lvl0 FROM ${p}draws WHERE w = 0),
         ${p}l1 AS (SELECT doc_id, lvl AS lvl1 FROM ${p}draws WHERE w = 1),
         ${p}lvls AS (
           SELECT d.doc_id, d.w,
             CASE WHEN d.m = 2 AND d.w = 0 THEN
               CASE WHEN l0.lvl0 < l1.lvl1 THEN 240 ELSE 0 END
             ELSE d.lvl + CASE WHEN d.m = 1 THEN 8 ELSE 0 END
             END AS v
           FROM ${p}draws d
           JOIN ${p}l0 l0 ON l0.doc_id = d.doc_id
           JOIN ${p}l1 l1 ON l1.doc_id = d.doc_id),
         ${p}bits AS (
           SELECT l.doc_id, l.w AS j,
                  CASE WHEN l.v < r.v THEN 1 ELSE 0 END AS b
           FROM ${p}lvls l JOIN ${p}lvls r
             ON r.doc_id = l.doc_id AND r.w = l.w + 1
           WHERE l.w <= 62),
         ${p}fp AS (
           SELECT doc_id,
                  CAST(sum(b * (CAST(1 AS BIGINT) << CAST(j AS INT)))
                       AS BIGINT) AS f
           FROM ${p}bits GROUP BY doc_id)"""

  val specs: Seq[QuerySpec] = Seq(
    // ── Multimodal plumbing: opaque binary + metadata through the typed
    //    Dataset decode path. text/plain dispatches to the labeled
    //    byte-stats stub (oracle-expressible); real decode paths (imageio
    //    PNG/JPEG, RIFF WAV) are spec-gated — see MultimodalSpec.
    QuerySpec("q_multimodal", (s, dir) => {
      import s.implicits._
      val media = Multimodal.attach(Tables.documents(s, dir), "doc_id",
        "text", "text/plain").as[Multimodal.MediaRow]
      Multimodal.decodeFeatures(media).toDF().select(
        col("media_id"), col("format"), col("n_bytes"), col("content_md5"),
        col("n_frames"),
        col("features")(0).as("f_len"),
        // half-up quantization, NOT round(): Spark's round works on the
        // shortest decimal repr, DuckDB's on the binary double — they
        // disagree on boundary means (94.10124999… rounded 94.1013 vs
        // 94.1012, caught by the sf1 gate). floor(v·1e4+0.5)/1e4 is
        // IEEE-identical in both engines.
        (floor(col("features")(1) * lit(10000.0) + lit(0.5)) /
          lit(10000.0)).as("f_mean"),
        col("features")(2).as("f_head"))
    },
      """SELECT doc_id AS media_id,
                'text/plain' AS format,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                md5(text) AS content_md5,
                CAST(ceil(strlen(text)/1024.0) AS INT) AS n_frames,
                CAST(strlen(text) AS DOUBLE) AS f_len,
                floor(CAST(list_sum(list_transform(range(1, strlen(text) + 1),
                        i -> unicode(substr(text, CAST(i AS INT), 1)))) AS DOUBLE)
                      / CAST(strlen(text) AS DOUBLE) * 10000.0 + 0.5)
                  / 10000.0 AS f_mean,
                CAST(unicode(substr(text, 1, 1)) AS DOUBLE) AS f_head
         FROM documents"""),

    // ── REAL video decode, driver-visible: per sampled document, MUX a
    //    deterministic 2-frame MJPEG-AVI in the executor (8×8 solid-gray
    //    JPEG frames at a doc_id-derived level, Multimodal.muxMjpegAvi)
    //    and decode it through the SAME AviMjpegCodec path production
    //    media takes. The oracle states the decoded facts as constants:
    //    container frame count, first-frame dims, and a luminance-
    //    within-3 boolean — JPEG DC quantization of a solid 8×8 block
    //    reproduces the level within ±3 on any JDK (AviVideoSpec sweeps
    //    every level this query generates and pins the bound; exact
    //    frame bytes stay spec-gated there too).
    QuerySpec("q_video", (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 20 === 0)
        .as[Long].mapPartitions { it =>
          it.map { id =>
            val gray = (id % 200L).toInt + 20
            val img = new java.awt.image.BufferedImage(8, 8,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val rgb = (gray << 16) | (gray << 8) | gray
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) { img.setRGB(x, y, rgb); x += 1 }
              y += 1
            }
            val frame = Multimodal.writeImage(img, "jpg")
            val avi = Multimodal.muxMjpegAvi(Seq(frame, frame), 8, 8)
            val (n, feats) = Multimodal.AviMjpegCodec.decode(avi)
            (id, n, feats(0), feats(1), math.abs(feats(2) - gray) <= 3.0)
          }
        }.toDF("doc_id", "n_frames", "w", "h", "lum_ok")
    },
      // the decoded facts of the generated container are constants; the
      // luminance boolean's ±3 bound is spec-pinned over every generated
      // level (see the query comment)
      """SELECT doc_id, 2 AS n_frames,
                CAST(8 AS DOUBLE) AS w, CAST(8 AS DOUBLE) AS h,
                TRUE AS lum_ok
         FROM documents WHERE doc_id % 20 = 0"""),

    // ── Perceptual image dedup, driver-visible end to end (the q_video
    //    pattern for PAIRS): per sampled document, RENDER a
    //    deterministic 18×16 gray block pattern in the executor — docs
    //    in one group share a pseudorandom 9×8 base pattern (drawn 2×2
    //    blocks); member 1 is a +1 brightness shift of it, member 2
    //    flips exactly the (0,0) block's comparison — PNG-encode, and
    //    push the bytes through the REAL decode → pixel-center NN
    //    resample → integer dHash → banded Hamming pairing pipeline
    //    (ext.ImageHash + Dedup.hammingPairs63). PNG is lossless and
    //    dHash is pure integer arithmetic, so the ORACLE replays the
    //    fingerprint + exact bit_count pairing in SQL from the stated
    //    pixel function: any decode loss, resample drift, or banding
    //    recall bug (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 shared 16-bit
    //    chunk) hash-mismatches. Expected structure: shift members
    //    pair at hamming 0, flipped-block members at 1, distinct
    //    groups sit ~31 bits apart (and any freak band collision is
    //    filtered by the same bit_count both engines compute).
    QuerySpec("q_image_dedup", (s, dir) =>
      graft.ext.ImageHash.nearDupPairs(imageDedupFps(s, dir), "dhash",
        maxHamming = 3),
      // replay the generated 9×8 cell grid (gray v is monotone in the
      // integer BT.601 luminance 1000·v, so `<` on v IS the dHash bit),
      // fold the 63 comparisons into the fingerprint, and pair by exact
      // bit_count — candidate banding on the Spark side is recall-exact
      // for hamming ≤ 3 by pigeonhole, so the pair sets must hash-match.
      // The cell draw is the first 16 bits of md5(g_x_y) mod 191 — the
      // engine-shared coin (simhash precedent)
      s"""WITH ${imageFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3"""),

    // ── Threshold SWEEP for the Hamming dedup family: pair counts and
    //    cumulative counts per distance 0..3 in one banded pass — the
    //    tuning curve an operator choice is made on (how many pairs
    //    does each extra bit of tolerance admit?), hash-gated instead
    //    of eyeballed. The sweep stays INSIDE the banded join's
    //    pigeonhole guarantee (4 bands ⇒ complete for Hamming ≤ 3);
    //    beyond it the candidate set would be band-recall-dependent
    //    and the counts unquotable — the honest boundary, stated.
    QuerySpec("q_dedup_sweep", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = graft.ext.ImageHash.nearDupPairs(
        imageDedupFps(s, dir), "dhash", maxHamming = 3)
      pairs.groupBy(col("hamming"))
        .agg(count(lit(1)).as("n_pairs"))
        // single-partition window over at most maxHamming + 1 = 4 rows
        .withColumn("cum_pairs", sum(col("n_pairs")).over(
          Window.orderBy(col("hamming"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("hamming").cast("int").as("hamming"),
          col("n_pairs"), col("cum_pairs"))
    },
      // threshold sweep inside the pigeonhole-complete region: all-pairs
      // bit_count histogram + running sum
      s"""WITH ${imageFpCtes()},
         p AS (SELECT bit_count(xor(a.f, b.f)) AS hamming
               FROM fp a JOIN fp b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.f, b.f)) <= 3),
         h AS (SELECT CAST(hamming AS INTEGER) AS hamming,
                      CAST(count(*) AS BIGINT) AS n_pairs
               FROM p GROUP BY 1)
         SELECT hamming, n_pairs,
                CAST(sum(n_pairs) OVER (ORDER BY hamming
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_pairs
         FROM h"""),

    // ── Image near-dup CLUSTERS + keep-one policy: the SemDeDup shape
    //    on the image pair graph — pairs close transitively
    //    (Components.connectedAdaptive), keeper = cluster minimum, and
    //    the emitted DROP LIST (every doc that is not its own cluster
    //    id) is what a curation pipeline anti-joins against the
    //    corpus. Oracle: recursive closure over the identical
    //    fingerprint-pair SQL (the q_semdedup pattern).
    QuerySpec("q_image_dedup_keep", (s, dir) => {
      val pairs = graft.ext.ImageHash.nearDupPairs(
        imageDedupFps(s, dir), "dhash", maxHamming = 3)
      graft.ext.Components.connectedAdaptive(pairs, "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"), col("component").as("kept_id"))
    },
      // the image pair graph above, closed transitively; keeper = the
      // component minimum, drop list = every node not its own cluster id
      // (the q_semdedup shape)
      s"""WITH RECURSIVE ${imageFpCtes()},
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle
         SELECT node AS doc_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id"""),

    // ── Perceptual AUDIO dedup (ext.AudioHash), the q_image_dedup
    //    pattern on the time axis: per sampled document, SYNTHESIZE a
    //    512-sample mono 16-bit PCM clip — 64 windows of 8 alternating
    //    ±a(w) samples, window amplitudes drawn by the same md5 group
    //    coin; member 1 is the clip at
    //    2× gain (energy contour invariant — every window energy ×4),
    //    member 2 flips exactly window 0's energy comparison — mux a
    //    real RIFF/WAVE container (Multimodal.muxPcmWav), and push the
    //    bytes through the REAL WavCodec parse → integer energy
    //    contour → banded Hamming pairing. Energies are exact BIGINTs
    //    (8·a², monotone in a), so the oracle replays amplitude
    //    comparisons + bit_count pairing directly.
    QuerySpec("q_audio_dedup", (s, dir) =>
      graft.ext.AudioHash.nearDupPairs(audioDedupFps(s, dir),
        maxHamming = 3),
      // replay the 64 window amplitudes (window energy 8·a² is monotone
      // in a > 0, so `<` on a IS the contour bit — gain doubling scales
      // a, flipping nothing), fold 63 comparisons, pair by bit_count
      s"""WITH ${audioFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3"""),

    // ── Perceptual VIDEO dedup (ext.VideoHash) — the temporal member
    //    of the modality-dedup family, driver-visible end to end: per
    //    sampled document, MUX a real 64-frame MJPEG-AVI of solid-gray
    //    8×8 JPEG frames whose levels come from the md5 group coin on
    //    a 20-gray-level grid (JPEG reproduces a solid block within
    //    ±3 — the q_video pinned bound — so ≥20-level gaps make every
    //    contour comparison noise-proof and STATED levels replay the
    //    decoded contour exactly); member 1 shifts every level +8
    //    (contour invariant), member 2 flips exactly window 0's
    //    comparison. The bytes run the REAL RIFF walk → per-frame JPEG
    //    decode → integer luminance contour → banded Hamming pairing.
    QuerySpec("q_video_dedup", (s, dir) =>
      graft.ext.VideoHash.nearDupPairs(videoDedupFps(s, dir),
        maxHamming = 3),
      // replay the 64 frame levels (solid-gray JPEG decodes within ±3
      // of its level and identical levels give byte-identical frames, so
      // with ≥20-level gaps `<` on LEVELS is the decoded contour bit;
      // the +8 member shift and the 240/0 flip clear the bound too)
      s"""WITH ${videoFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3"""),

    // ── Streaming fingerprint dedup, BATCH face (streaming/
    //    FingerprintDedupStream.filterBatch — the q_neardup_filter
    //    trick for the media modalities): survivors of an image batch
    //    (ODD near-dup groups, g = (doc_id/10)/3) against the prebuilt
    //    corpus fingerprint set (even groups) under the shared
    //    keep-min drop policy — drop a batch image iff it
    //    banded-Hamming pairs with an indexed image or a smaller-id
    //    batch image. The group-parity split keeps whole near-dup
    //    families on one side, so each odd group's minimum member
    //    SURVIVES (in-batch keep-min) while its shift/flip members
    //    drop — a non-degenerate survivor set. The raw PNG frame goes
    //    in and fingerprints extract INSIDE the face (its contract);
    //    the micro-batch/index-accumulation twin is spec-gated
    //    (FingerprintDedupStreamSpec).
    QuerySpec("q_image_neardup_filter", (s, dir) =>
      neardupFilter(s, imageDedupPngs(s, dir), "png",
        graft.ext.ImageHash.fingerprints, "dhash"),
      neardupFilterOracle(imageFpCtes())),

    // ── The same streaming-ingest batch face for AUDIO: raw RIFF clips
    //    in, energy-contour fingerprints extracted inside, arrivals
    //    kept only when no indexed corpus clip (and no earlier
    //    arrival) sits within Hamming 3 — FingerprintDedupStream is
    //    modality-blind, so this row pins that claim on a second
    //    fingerprint family end-to-end.
    QuerySpec("q_audio_neardup_filter", (s, dir) =>
      neardupFilter(s, audioDedupWavs(s, dir), "wav",
        graft.ext.AudioHash.fingerprints, "ahash"),
      neardupFilterOracle(audioFpCtes())),

    // ── And for VIDEO: MJPEG clips through the real per-frame decode.
    QuerySpec("q_video_neardup_filter", (s, dir) =>
      neardupFilter(s, videoDedupAvis(s, dir), "avi",
        graft.ext.VideoHash.fingerprints, "vhash"),
      neardupFilterOracle(videoFpCtes())),

    // ── UNIFIED cross-modality keep-one policy: image, audio, and
    //    video near-dup pair graphs (disjoint id spaces via fixed
    //    offsets) closed transitively in ONE Components run — the
    //    composition a multimodal curation pipeline actually executes:
    //    one drop list over every media family, keeper = cluster
    //    minimum. Oracle: recursive closure over the three fingerprint
    //    replays (prefixed CTEs) unioned with the same offsets.
    QuerySpec("q_media_dedup_keep", (s, dir) =>
      graft.ext.Components.connectedAdaptive(
          mediaPairGraph(s, dir), "doc_a", "doc_b")
        .filter(col("node") =!= col("component"))
        .select(col("node").as("doc_id"), col("component").as("kept_id")),
      // all three modality fingerprint replays (prefixed CTEs), pair
      // graphs offset into disjoint id spaces, one recursive closure —
      // keeper = component minimum, drop list = every non-keeper
      s"""WITH RECURSIVE ${imageFpCtes("i_")},
         ${audioFpCtes("a_")},
         ${videoFpCtes("v_")},
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM i_fp a JOIN i_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaAudioOff, b.doc_id + $MediaAudioOff
           FROM a_fp a JOIN a_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3
           UNION ALL
           SELECT a.doc_id + $MediaVideoOff, b.doc_id + $MediaVideoOff
           FROM v_fp a JOIN v_fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.f, b.f)) <= 3),
         $closureOracle
         SELECT node AS doc_id, cluster_id AS kept_id
         FROM comp WHERE node <> cluster_id"""),

    // ── pHash made driver-visible via the tolerance-twin pattern
    //    (q_hll_daily / q_triangles_approx shape): the exact dHash
    //    pair set is the hash-gated twin, and each pair carries TWO
    //    pinned-TRUE booleans asserting the float DCT path through
    //    deterministic bounds — `phash_shift_exact`: brightness-shift
    //    pairs (dHash 0) sit at pHash Hamming EXACTLY 0 (a constant
    //    shift moves only the excluded DC coefficient);
    //    `phash_agrees`: every near-dup pair sits at pHash ≤ 16
    //    (flip-pair max measured 8 at sf0.001/sf0.01;
    //    cross-group pairs concentrate at ~31.5 — 16 splits the two
    //    populations with 2× margin). A pHash regression (resample
    //    drift, DCT bug, bit-order change) flips a boolean and
    //    hash-mismatches at every SF.
    QuerySpec("q_image_phash", (s, dir) => {
      val fps = imageDedupFps(s, dir).localCheckpoint()
      val pairs = graft.ext.ImageHash.nearDupPairs(fps, "dhash",
        maxHamming = 3)
      pairs
        .join(fps.select(col("media_id").as("doc_a"),
          col("phash").as("ph_a")), Seq("doc_a"))
        .join(fps.select(col("media_id").as("doc_b"),
          col("phash").as("ph_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("hamming"),
          (expr("bit_count(ph_a ^ ph_b)") <= lit(16)).as("phash_agrees"),
          (col("hamming") =!= lit(0) ||
            expr("bit_count(ph_a ^ ph_b)") === lit(0))
            .as("phash_shift_exact"))
    },
      // the dHash pair set is the exact twin; both pHash booleans are
      // pinned TRUE on this fixture (tolerance-twin pattern — the float
      // DCT path is asserted through deterministic bounds, never hashed
      // directly)
      s"""WITH ${imageFpCtes()}
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                bit_count(xor(a.f, b.f)) AS hamming,
                TRUE AS phash_agrees,
                TRUE AS phash_shift_exact
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.f, b.f)) <= 3""")
  )
}
