package graft.operators

import graft.{QueryDef, QueryModule}
import graft.multimodal.MultimodalPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge._

/** Oracle-checked queries over the multimodal pipeline. The stub decoder's
  * md5 arithmetic is replicated in DuckDB SQL, so the mapPartitions path is
  * value-checked end to end, not just smoke-tested.
  */
object MultimodalQueries extends QueryModule {

  // hex digit -> value, as SQL (both engines: position in the hex alphabet)
  private def hexValSql(expr: String): String =
    s"(strpos('0123456789abcdef', $expr) - 1)"

  /** Decode features per media object (doc_id<100). */
  private val multimodalFeatures = QueryDef(
    "q_multimodal_features",
    (spark, sfDir) => {
      // truncated: the decode feeds both the feature projection and the
      // resize branch — one decode pass, not two
      val feats = MultimodalPipeline.extractFeatures(
        MultimodalPipeline.mediaTable(spark, sfDir).filter(col("doc_id") < 100)).truncated
      val resized = MultimodalPipeline.resize(feats)
        .select(col("doc_id"), col("width").as("r_w"), col("height").as("r_h"))
      feats.toDF()
        .join(resized, "doc_id")
        .select(col("doc_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"), col("n_frames"),
          col("r_w"), col("r_h"),
          element_at(col("frame_hashes"), 1).as("frame0"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS byte_len,
               md5(text) AS h
        FROM documents WHERE doc_id < 100)
      SELECT doc_id, media_type, byte_len, width, height, n_frames,
             224 AS r_w,
             CAST(height * 224 // width AS INT) AS r_h,
             md5(h || ':0') AS frame0
      FROM (SELECT doc_id, media_type, byte_len, h,
                   CAST(64 + 8 * ${hexValSql("substr(h, 1, 1)")} AS INT) AS width,
                   CAST(64 + 8 * ${hexValSql("substr(h, 2, 1)")} AS INT) AS height,
                   CAST(1 + ${hexValSql("substr(h, 3, 1)")} % 8 AS INT) AS n_frames
            FROM m)
      ORDER BY doc_id
    """))

  /** Frame fan-out: one row per sampled frame (doc_id<20). */
  private val multimodalFrames = QueryDef(
    "q_multimodal_frames",
    (spark, sfDir) =>
      MultimodalPipeline.sampleFrames(
        MultimodalPipeline.extractFeatures(
          MultimodalPipeline.mediaTable(spark, sfDir).filter(col("doc_id") < 20)))
        .orderBy("doc_id", "frame_idx"),
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               md5(text) AS h,
               1 + ${hexValSql("substr(md5(text), 3, 1)")} % 8 AS n_frames
        FROM documents WHERE doc_id < 20)
      SELECT doc_id, media_type, CAST(i AS INT) AS frame_idx,
             md5(h || ':' || i) AS frame_hash
      FROM (SELECT doc_id, media_type, h,
                   unnest(generate_series(0, n_frames - 1)) AS i
            FROM m)
      ORDER BY doc_id, frame_idx
    """))

  /** Byte-identical media dedup: group media objects by the sha-256 of
    * the opaque binary payload (never by the payload itself — at 100 TB
    * the shuffle moves 32-byte digests, not images) and report, per
    * media type, object / distinct / duplicate counts and the largest
    * duplicate group. Ten exact copies (doc_id+201000 — the offset is ≡0 mod 3
    * so each copy keeps its original media_type bucket; payload reused
    * from doc_id<10) are planted so the detector has known truth; the dup can only be
    * found if it shares its original's bucket. The
    * oracle groups by the payload's text preimage — engines need not
    * share a hash function when only group COUNTS are compared, and a
    * crypto hash is injective on any real corpus.
    */
  private val mediaDedup = QueryDef(
    "q_media_dedup",
    (spark, sfDir) => {
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val planted = docs.unionByName(
        docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 201000).as("doc_id"), col("text")))
      planted
        .select(
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("media_type"),
          sha2(encode(col("text"), "UTF-8"), 256).as("h"))
        .groupBy("media_type", "h")
        .agg(count(lit(1)).as("grp"))
        .groupBy("media_type")
        .agg(
          sum("grp").as("n_objects"),
          count(lit(1)).as("n_distinct"),
          sum(col("grp") - 1).as("n_dup_objects"),
          max("grp").as("max_group"))
        .orderBy("media_type")
    },
    Some("""
      WITH m AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               text
        FROM (SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 201000, text FROM documents WHERE doc_id < 10)),
      g AS (SELECT media_type, text, CAST(count(*) AS BIGINT) AS grp
            FROM m GROUP BY 1, 2)
      SELECT media_type,
             CAST(sum(grp) AS BIGINT) AS n_objects,
             count(*) AS n_distinct,
             CAST(sum(grp - 1) AS BIGINT) AS n_dup_objects,
             max(grp) AS max_group
      FROM g GROUP BY media_type ORDER BY media_type
    """))

  /** Metadata quality gate over the full media corpus — the pre-decode
    * filter every multimodal ingest runs (resolution floors for images/
    * video, frame floors for video, size floors for audio) so the
    * expensive decode stage never sees junk. Gates are pure metadata
    * predicates (the 100 TB point: this pass reads extracted metadata
    * columns, never payload bytes); per-type pass/reject counts and the
    * dominant reject reason are the report. The stub decoder's
    * md5-derived dimensions are mirrored in the oracle, so the gate
    * logic is value-checked end to end.
    */
  private val mediaQualityGate = QueryDef(
    "q_media_quality_gate",
    (spark, sfDir) => {
      val feats = MultimodalPipeline.extractFeatures(
        MultimodalPipeline.mediaTable(spark, sfDir)).toDF()
      feats
        .withColumn("reject_reason",
          when(col("media_type").isin("image", "video") &&
            (col("width") < 96 || col("height") < 96), "low_res")
            .when(col("media_type") === "video" && col("n_frames") < 4, "too_few_frames")
            .when(col("media_type") === "audio" && col("byte_len") < 64, "too_small")
            .otherwise("pass"))
        .groupBy("media_type", "reject_reason")
        .agg(count(lit(1)).as("n"), sum(col("byte_len").cast("long")).as("bytes"))
        .orderBy("media_type", "reject_reason")
    },
    Some(s"""
      WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS byte_len,
               md5(text) AS h
        FROM documents),
      f AS (
        SELECT doc_id, media_type, byte_len,
               CAST(64 + 8 * ${hexValSql("substr(h, 1, 1)")} AS INT) AS width,
               CAST(64 + 8 * ${hexValSql("substr(h, 2, 1)")} AS INT) AS height,
               CAST(1 + ${hexValSql("substr(h, 3, 1)")} % 8 AS INT) AS n_frames
        FROM m),
      g AS (
        SELECT media_type, byte_len,
               CASE WHEN media_type IN ('image', 'video')
                      AND (width < 96 OR height < 96) THEN 'low_res'
                    WHEN media_type = 'video' AND n_frames < 4 THEN 'too_few_frames'
                    WHEN media_type = 'audio' AND byte_len < 64 THEN 'too_small'
                    ELSE 'pass' END AS reject_reason
        FROM f)
      SELECT media_type, reject_reason, count(*) AS n,
             CAST(sum(byte_len) AS BIGINT) AS bytes
      FROM g GROUP BY 1, 2 ORDER BY 1, 2
    """))

  /** Modality mixture report — the per-modality share of objects and
    * bytes a data-mixture planner balances before training (the
    * multimodal twin of q_mix_weights). One metadata aggregation;
    * shares are single rounded divides against 1-row corpus totals.
    */
  private val modalityMix = QueryDef(
    "q_modality_mix",
    (spark, sfDir) => {
      val feats = MultimodalPipeline.extractFeatures(
        MultimodalPipeline.mediaTable(spark, sfDir)).toDF()
        .groupBy("media_type")
        .agg(count(lit(1)).as("n_objects"),
          sum(col("byte_len").cast("long")).as("bytes"),
          sum(col("n_frames").cast("long")).as("frames"))
      val tot = feats.agg(sum("n_objects").as("nt"), sum("bytes").as("bt"))
      feats.crossJoin(broadcast(tot))
        .selectExpr("media_type", "n_objects", "bytes", "frames",
          s"${Ql.R("100.0 * n_objects / nt", 4)} AS object_pct",
          s"${Ql.R("100.0 * bytes / bt", 4)} AS byte_pct")
        .orderBy("media_type")
    },
    Some(s"""
      WITH m AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS byte_len,
               CAST(1 + ${hexValSql("substr(md5(text), 3, 1)")} % 8 AS INT) AS n_frames
        FROM documents),
      g AS (
        SELECT media_type, count(*) AS n_objects,
               CAST(sum(byte_len) AS BIGINT) AS bytes,
               CAST(sum(n_frames) AS BIGINT) AS frames
        FROM m GROUP BY 1),
      t AS (SELECT CAST(sum(n_objects) AS BIGINT) AS nt,
                   CAST(sum(bytes) AS BIGINT) AS bt FROM g)
      SELECT media_type, n_objects, bytes, frames,
             ${Ql.R("100.0 * n_objects / nt", 4)} AS object_pct,
             ${Ql.R("100.0 * bytes / bt", 4)} AS byte_pct
      FROM g CROSS JOIN t ORDER BY media_type
    """))

  /** REAL image decode (r16): payloads are genuine PNGs built and parsed
    * by the JDK's own ImageIO codec ([[graft.multimodal.JdkMedia]]) —
    * encode in one mapPartitions stage, decode in another, binary column
    * in between. The oracle recomputes the expected dimensions and
    * integer channel sums from the same pure-integer pixel rule, so the
    * decode output AND the lossless PNG roundtrip are value-checked end
    * to end through two real codec calls (compressed byte length is
    * deliberately not oracled — it belongs to the encoder build, not the
    * data contract). Video remains the env-blocked md5 stand-in.
    */
  private val imageCodec = QueryDef(
    "q_image_codec",
    (spark, sfDir) => {
      import spark.implicits._
      import graft.multimodal.JdkMedia
      val ids = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions(_.map(id => (id, JdkMedia.pngPayload(id))))
        .toDF("doc_id", "payload").as[(Long, Array[Byte])]
      payloads
        .mapPartitions(_.map { case (id, png) => JdkMedia.decodeImage(id, png) })
        .toDF()
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(8 + (doc_id // 9) % 9 AS INT) AS height
        FROM documents WHERE doc_id < 200),
      px AS (
        SELECT doc_id, width, height,
               unnest(generate_series(0, width - 1)) AS x
        FROM d),
      pxy AS (
        SELECT doc_id, width, height, x,
               unnest(generate_series(0, height - 1)) AS y
        FROM px)
      SELECT doc_id, width, height,
             CAST(sum((doc_id * 37 + x * 11 + y * 7) % 256) AS BIGINT) AS sum_r,
             CAST(sum((doc_id * 59 + x * 13 + y * 5) % 256) AS BIGINT) AS sum_g,
             CAST(sum((doc_id * 83 + x * 17 + y * 3) % 256) AS BIGINT) AS sum_b
      FROM pxy GROUP BY 1, 2, 3 ORDER BY doc_id
    """))

  /** REAL audio decode (r16): payloads are genuine WAV files built and
    * parsed by the JDK's javax.sound codec — same two-stage
    * mapPartitions shape as [[imageCodec]]. The oracle recomputes the
    * format, frame count, and integer amplitude sum from the same
    * pure-integer sample rule.
    */
  private val audioCodec = QueryDef(
    "q_audio_codec",
    (spark, sfDir) => {
      import spark.implicits._
      import graft.multimodal.JdkMedia
      val ids = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions(_.map(id => (id, JdkMedia.wavPayload(id))))
        .toDF("doc_id", "payload").as[(Long, Array[Byte])]
      payloads
        .mapPartitions(_.map { case (id, wav) => JdkMedia.decodeAudio(id, wav) })
        .toDF()
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n
        FROM documents WHERE doc_id < 200),
      s AS (
        SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i
        FROM d)
      SELECT doc_id,
             CAST(8000 AS INT) AS sample_rate,
             CAST(1 AS INT) AS channels,
             CAST(8 AS INT) AS bits,
             CAST(max(n) AS BIGINT) AS n_frames,
             CAST(sum((doc_id * 31 + i * 17) % 256) AS BIGINT) AS sum_amp
      FROM s GROUP BY doc_id ORDER BY doc_id
    """))

  /** REAL per-frame video decode (r17): payloads are MJPEG-style
    * containers — N length-prefixed genuine PNG frames
    * ([[graft.multimodal.JdkMedia.videoPayload]]) — decoded frame by
    * frame through ImageIO in a partition-batched stage. One output row
    * per frame: dims + integer channel sums, all re-derived by the
    * oracle from the pure-integer frame rule (pix_id = doc_id·8 + f), so
    * container parsing AND every frame's codec roundtrip are
    * value-checked end to end. This retires the last decode stand-in
    * the environment permits: only inter-frame-compressed video (H.264
    * etc., no JVM codec exists) keeps the md5 stub. Same fixed
    * doc_id<200 slice as the other codec queries (codec-path demo —
    * near-constant across SFs, stated in COVERAGE.md).
    */
  private val videoCodec = QueryDef(
    "q_video_codec",
    (spark, sfDir) => {
      import spark.implicits._
      import graft.multimodal.JdkMedia
      val ids = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
      val payloads = ids.mapPartitions(_.map(id => (id, JdkMedia.videoPayload(id))))
        .toDF("doc_id", "payload").as[(Long, Array[Byte])]
      payloads
        .mapPartitions(_.flatMap { case (id, v) => JdkMedia.decodeVideo(id, v) })
        .toDF()
        .orderBy("doc_id", "frame_idx")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(2 + doc_id % 7 AS BIGINT) AS nf
        FROM documents WHERE doc_id < 200),
      fr AS (
        SELECT doc_id, CAST(f AS INT) AS frame_idx, doc_id * 8 + f AS pix_id
        FROM (SELECT doc_id, unnest(generate_series(0, nf - 1)) AS f FROM d)),
      dims AS (
        SELECT doc_id, frame_idx, pix_id,
               CAST(8 + pix_id % 9 AS INT) AS width,
               CAST(8 + (pix_id // 9) % 9 AS INT) AS height
        FROM fr),
      px AS (
        SELECT doc_id, frame_idx, pix_id, width, height,
               unnest(generate_series(0, width - 1)) AS x
        FROM dims),
      pxy AS (
        SELECT doc_id, frame_idx, pix_id, width, height, x,
               unnest(generate_series(0, height - 1)) AS y
        FROM px)
      SELECT doc_id, frame_idx, width, height,
             CAST(sum((pix_id * 37 + x * 11 + y * 7) % 256) AS BIGINT) AS sum_r,
             CAST(sum((pix_id * 59 + x * 13 + y * 5) % 256) AS BIGINT) AS sum_g,
             CAST(sum((pix_id * 83 + x * 17 + y * 3) % 256) AS BIGINT) AS sum_b
      FROM pxy GROUP BY 1, 2, 3, 4 ORDER BY doc_id, frame_idx
    """))

  /** Perceptual near-dup over REAL decoded pixels (r16): the dHash
    * fingerprint ([[graft.multimodal.JdkMedia.dHash]] — 9×8
    * nearest-neighbor grayscale grid over the ImageIO-decoded image, one
    * bit per adjacent-pair comparison, all integer math). Plants: docs
    * 0..9 re-encoded as BMP at doc_id+300000 — DIFFERENT container
    * bytes (byte-level q_media_dedup cannot group them), same pixels, so
    * the perceptual groups are the truth byte dedup misses. Output: the
    * multi-member fingerprint groups. The oracle re-derives every bit
    * from the pure-integer pixel rule — for the plants via their
    * original pix_id — so the codec roundtrip + sampling arithmetic are
    * value-checked end to end. Scale shape: the shuffle carries 64-char
    * fingerprints, never pixel buffers; decode is partition-batched.
    */
  private val imageDhash = QueryDef(
    "q_image_dhash",
    (spark, sfDir) => {
      import spark.implicits._
      import graft.multimodal.JdkMedia
      val base = graft.Tables.documents(spark, sfDir)
      val ids = base.filter(col("doc_id") < 200)
        .select(col("doc_id"), col("doc_id").as("pix_id"), lit("png").as("container"))
        .unionByName(base.filter(col("doc_id") < 10)
          .select((col("doc_id") + 300000).as("doc_id"),
            col("doc_id").as("pix_id"), lit("bmp").as("container")))
        .as[(Long, Long, String)]
      val hashed = ids.mapPartitions(_.map { case (id, pix, container) =>
          val payload =
            if (container == "bmp") JdkMedia.bmpPayload(pix) else JdkMedia.pngPayload(pix)
          (id, JdkMedia.dHash(payload))
        })
        .toDF("doc_id", "dhash")
      hashed.groupBy("dhash")
        .agg(count(lit(1)).as("n_objects"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .filter(col("n_objects") > 1)
        .orderBy("first_doc")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, doc_id AS pix_id FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id < 10),
      dims AS (
        SELECT doc_id, pix_id,
               CAST(8 + pix_id % 9 AS BIGINT) AS w,
               CAST(8 + (pix_id // 9) % 9 AS BIGINT) AS h
        FROM base),
      rc AS (
        SELECT doc_id, pix_id, w, h, r, unnest(generate_series(0, 7)) AS c
        FROM (SELECT doc_id, pix_id, w, h,
                     unnest(generate_series(0, 7)) AS r
              FROM dims)),
      bits AS (
        SELECT doc_id, r, c,
               CASE WHEN
                 (299 * ((pix_id * 37 + (c * w // 9) * 11 + (r * h // 8) * 7) % 256)
                + 587 * ((pix_id * 59 + (c * w // 9) * 13 + (r * h // 8) * 5) % 256)
                + 114 * ((pix_id * 83 + (c * w // 9) * 17 + (r * h // 8) * 3) % 256)) // 1000
               <
                 (299 * ((pix_id * 37 + ((c + 1) * w // 9) * 11 + (r * h // 8) * 7) % 256)
                + 587 * ((pix_id * 59 + ((c + 1) * w // 9) * 13 + (r * h // 8) * 5) % 256)
                + 114 * ((pix_id * 83 + ((c + 1) * w // 9) * 17 + (r * h // 8) * 3) % 256)) // 1000
               THEN '1' ELSE '0' END AS b
        FROM rc),
      hashes AS (
        SELECT doc_id, string_agg(b, '' ORDER BY r, c) AS dhash
        FROM bits GROUP BY 1)
      SELECT dhash, count(*) AS n_objects,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM hashes GROUP BY 1 HAVING count(*) > 1
      ORDER BY first_doc
    """))

  /** Silence/energy gate over REAL decoded audio (r16): decode each WAV
    * with the JDK codec, compute the integer sum of squared deviations
    * from the 8-bit midpoint, gate on mean energy (100·ss/frames ≥
    * 100000). Docs ≡3 mod 7 carry a near-silent payload (amplitudes
    * 126..130) so the gate has planted truth; the oracle re-derives
    * both amplitude rules. Per gate side: docs, frames, total energy.
    */
  private val audioEnergyGate = QueryDef(
    "q_audio_energy_gate",
    (spark, sfDir) => {
      import spark.implicits._
      import graft.multimodal.JdkMedia
      val ids = graft.Tables.documents(spark, sfDir)
        .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
      val energies = ids.mapPartitions(_.map { id =>
          val wav =
            if (id % 7 == 3) JdkMedia.wavQuietPayload(id) else JdkMedia.wavPayload(id)
          JdkMedia.audioEnergy(id, wav)
        })
        .toDF()
      energies
        .withColumn("keep", expr("100 * ss_dev div n_frames >= 100000"))
        .groupBy("keep")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_frames")).as("total_frames"),
          sum(col("ss_dev")).as("sum_ss"))
        .orderBy("keep")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n
        FROM documents WHERE doc_id < 200),
      s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM d),
      amp AS (
        SELECT doc_id, n,
               CASE WHEN doc_id % 7 = 3 THEN 126 + (doc_id * 31 + i * 17) % 5
                    ELSE (doc_id * 31 + i * 17) % 256 END AS a
        FROM s),
      e AS (
        SELECT doc_id, max(n) AS n_frames,
               CAST(sum((a - 128) * (a - 128)) AS BIGINT) AS ss_dev
        FROM amp GROUP BY 1),
      g AS (SELECT doc_id, n_frames, ss_dev,
                   100 * ss_dev // n_frames >= 100000 AS keep
            FROM e)
      SELECT keep, count(*) AS n_docs,
             CAST(sum(n_frames) AS BIGINT) AS total_frames,
             CAST(sum(ss_dev) AS BIGINT) AS sum_ss
      FROM g GROUP BY 1 ORDER BY keep
    """))

  override def defs: Seq[QueryDef] =
    Seq(multimodalFeatures, multimodalFrames, mediaDedup, mediaQualityGate,
      modalityMix, imageCodec, audioCodec, videoCodec, imageDhash, audioEnergyGate)
}
