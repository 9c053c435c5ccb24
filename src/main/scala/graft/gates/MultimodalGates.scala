package graft
package gates

import org.apache.spark.sql.functions._

import Fixtures._

/** Multimodal metadata and plans (`mm_`).
  */
private[gates] object MultimodalGates {

  val gates: Seq[Gate] = Seq(
    Gate("mm_decode_meta", (s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
        .orderBy("id")
    },
      """SELECT doc_id AS id,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height,
        |CASE octet_length(encode(text)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
        |FROM documents WHERE doc_id % 10 = 0 ORDER BY id""".stripMargin),
    Gate("mm_scene_cuts", (s, dir) => {
      // shot-boundary detection plan: sampled-frame signal diffs →
      // cut flags → gaps-and-islands scene spans; one doc-keyed
      // window + one doc-keyed agg, nothing wider than the video id
      import graft.multimodal.Multimodal
      Multimodal.sceneCuts(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 25 === 5), "text"),
        "doc_id", "content")
        .orderBy("id", "scene_id")
    },
      graft.multimodal.Multimodal.sceneCutsSql("WHERE doc_id % 25 = 5")),
    Gate("mm_audio_windows", (s, dir) => {
      // VAD-style audio chunking plan: overlapping (start, len)
      // windows + deterministic energy flags from the stubbed header
      // arithmetic — map-only explode bounded by samples/hop, the cut
      // list the codec pass executes
      import graft.multimodal.Multimodal
      Multimodal.audioWindows(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 50 === 0), "text"),
        "doc_id", "content")
        .orderBy("id", "win_idx")
    },
      graft.multimodal.Multimodal.audioWindowsSql("WHERE doc_id % 50 = 0")),
    Gate("mm_frame_sample", (s, dir) => {
      import graft.multimodal.Multimodal
      Multimodal.sampleFrames(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 25 === 0), "text"),
        "doc_id", "content", stride = 7)
        .orderBy("id", "frame_idx")
    },
      """WITH d AS (SELECT doc_id AS id,
        |    1 + octet_length(encode(text)) % 240 AS n_frames
        |  FROM documents WHERE doc_id % 25 = 0),
        |f AS (SELECT id, n_frames, unnest(range(0, n_frames, 7)) AS frame_idx
        |  FROM d)
        |SELECT id, n_frames, frame_idx,
        |  md5(CAST(id AS VARCHAR) || ':' || CAST(frame_idx AS VARCHAR)) AS frame_fp
        |FROM f ORDER BY id, frame_idx""".stripMargin),

    Gate("mm_augment_plan", (s, dir) => {
      // per-(image, epoch) deterministic RandomResizedCrop+flip
      // parameters from md5 coins — reproducible, shard-stable,
      // computed at METADATA time so the codec pass gets exact
      // (x, y, w, h, flip) instructions; map-only
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.augmentPlan(meta, epochs = 3).orderBy("id", "epoch")
    },
      graft.multimodal.Multimodal.augmentPlanSql(
        "WHERE doc_id % 10 = 0", epochs = 3)),
    Gate("mm_aspect_buckets", (s, dir) => {
      // SDXL-style aspect bucketing at metadata time: all-integer
      // ratio bands over the decoded (width, height) — the batching
      // plan computed before any pixel decode; 11-cell census
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 3 === 2), "text"),
        "doc_id", "content")
      Multimodal.aspectBuckets(meta).orderBy("band")
    },
      graft.multimodal.Multimodal.aspectBucketsSql(
        """SELECT CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
          |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
          |  FROM documents WHERE doc_id % 3 = 2""".stripMargin)),
    Gate("mm_ahash_pairs", (s, dir) => {
      // image near-dup via perceptual average hash: a stubbed
      // decode-and-downscale (the StubDecoder stance — deterministic
      // 48-cell luma grids, scenes of four sharing a base image with
      // one per-doc perturbed cell) feeds aHash signatures into the
      // SAME banded block-pair engine the text simhash path uses.
      // In-scene pairs land within the Hamming radius (1-2 flipped
      // cells + mean-shift jitter), cross-scene pairs sit near
      // bits/2 and never collide on a clean block pair
      val grid = t(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("id"), expr("doc_id div 28").as("scene"))
        .select(col("id"), col("scene"),
          explode(sequence(lit(0), lit(47))).as("cell"))
        .withColumn("base",
          conv(substring(md5(concat_ws(":", col("scene"), col("cell"))),
            1, 2), 16, 10).cast("long"))
        .withColumn("luma",
          when(col("cell") === expr("(id div 7) % 48"),
            lit(255L) - col("base")).otherwise(col("base")))
        .select("id", "cell", "luma")
      graft.dedup.Dedup.simhashNearDupPairsFromSignatures(
        graft.multimodal.Multimodal.aHash(grid),
        maxHamming = 5, blocks = 8)
        .orderBy("id_a", "id_b")
    },
      graft.multimodal.Multimodal.aHashPairsSql(
        """SELECT doc_id AS id, cell,
          |  CASE WHEN cell = (doc_id // 7) % 48
          |    THEN 255 - CAST(('0x' || substr(md5(
          |      CAST(doc_id // 28 AS VARCHAR) || ':' ||
          |      CAST(cell AS VARCHAR)), 1, 2)) AS BIGINT)
          |    ELSE CAST(('0x' || substr(md5(
          |      CAST(doc_id // 28 AS VARCHAR) || ':' ||
          |      CAST(cell AS VARCHAR)), 1, 2)) AS BIGINT) END AS luma
          |FROM documents, range(48) t(cell)
          |WHERE doc_id % 7 = 0""".stripMargin,
        maxHamming = 5, blocks = 8)),
    Gate("mm_resize_plan", (s, dir) => {
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.resizePlan(meta, maxW = 128, maxH = 96)
        .select(col("id"), col("width"), col("height"),
          col("out_w"), col("out_h"))
        .orderBy("id")
    },
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT id, width, height,
        |    least(128.0 / CAST(width AS DOUBLE), 96.0 / CAST(height AS DOUBLE), 1.0) AS scale
        |  FROM m)
        |SELECT id, width, height,
        |  greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h
        |FROM r ORDER BY id""".stripMargin),

    Gate("mm_patch_plan", (s, dir) => {
      // vision-token budget: patch grid + class token over the resize
      // plan (ceil-divided 16px tiles) — the packing input for image
      // sequences, planned before any pixel decode
      import graft.multimodal.Multimodal
      val meta = Multimodal.decodeMeta(
        Multimodal.withFakePayload(
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0), "text"),
        "doc_id", "content")
      Multimodal.patchPlan(
        Multimodal.resizePlan(meta, maxW = 128, maxH = 96), patch = 16)
        .select(col("id"), col("out_w"), col("out_h"),
          col("n_x"), col("n_y"), col("n_patches"), col("n_tokens"))
        .orderBy("id")
    },
      """WITH m AS (SELECT doc_id AS id,
        |    CAST(1 + octet_length(encode(text)) % 512 AS INT) AS width,
        |    CAST(1 + (octet_length(encode(text)) * 7) % 512 AS INT) AS height
        |  FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT id, width, height,
        |    least(128.0 / CAST(width AS DOUBLE), 96.0 / CAST(height AS DOUBLE), 1.0) AS scale
        |  FROM m),
        |z AS (SELECT id,
        |  greatest(1, CAST(floor(CAST(width AS DOUBLE) * scale) AS BIGINT)) AS out_w,
        |  greatest(1, CAST(floor(CAST(height AS DOUBLE) * scale) AS BIGINT)) AS out_h
        |  FROM r),
        |p AS (SELECT id, out_w, out_h,
        |  (out_w + 15) // 16 AS n_x, (out_h + 15) // 16 AS n_y FROM z)
        |SELECT id, out_w, out_h, n_x, n_y,
        |  n_x * n_y AS n_patches, n_x * n_y + 1 AS n_tokens
        |FROM p ORDER BY id""".stripMargin),
  )
}
