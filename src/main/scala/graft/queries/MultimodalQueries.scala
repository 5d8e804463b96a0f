package graft.queries

import graft.ops.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal pipeline gates. The synthetic media table is deterministic
  * in media_id, so the full video chain — GIF encode → decode → frame
  * render → every-k sample — has closed-form frame counts and
  * centisecond timestamps the DuckDB oracle enumerates directly; any
  * drift in any codec stage breaks the gate. */
object MultimodalQueries {

  private val N = 200L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // real video modality end-to-end: animated-GIF payloads built row-side,
    // decoded by the hand-rolled codec, frames sampled every 2nd
    "q50_video_frames" -> ((s, _) => {
      val media = Multimodal.syntheticMediaPng(s, N, 8)
      Multimodal.extractFrames(media, everyK = 2)
        .filter(col("kind") === "video")
        .select(col("media_id"), col("frame_idx"), col("t_cs"))
        .orderBy("media_id", "frame_idx")
    }),

    // TRUE-bitstream video modality: MJPEG AVI payloads (AVI RIFF
    // container, independent JPEG frames) built row-side, container
    // parsed by the hand-rolled io/Avi codec, frames decoded by the
    // JDK's real JPEG codec, sampled every 2nd; dims, frame count, and
    // container-derived centisecond timestamps are closed-form
    "q60_video_avi" -> ((s, _) => {
      import s.implicits._
      val media = s.range(0, N, 1, 8).filter(_ % 3 == 0).map { id =>
        (id, "video", Multimodal.syntheticAvi(id,
          32 + (id % 4).toInt * 16, 32 + (id % 3).toInt * 16))
      }.toDF("media_id", "kind", "payload")
      val meta = Multimodal.decodeMeta(media)
        .select(col("media_id"), col("meta.width").as("width"),
          col("meta.height").as("height"), col("meta.frames").as("n_frames"))
      Multimodal.extractFrames(media, everyK = 2)
        .select(col("media_id"), col("frame_idx"), col("t_cs"))
        .join(meta, "media_id")
        .select("media_id", "width", "height", "n_frames", "frame_idx", "t_cs")
        .orderBy("media_id", "frame_idx")
    }),

    // unified video-stats pipeline (the shape a multimodal training filter
    // runs): ONE extractFrames pass over a mixed GIF+MJPEG-AVI media
    // table, per-frame per-channel band stats. The lossless GIF arm's
    // channel MEANS are oracle-exact (integer pixel sums from the
    // closed-form block-sweep synthesis, one correctly-rounded division);
    // the JPEG arm (lossy by nature) gates a tolerance BOOLEAN against
    // the planted solid color — the decoded mean must sit within ±6 of
    // it, which any codec drift (wrong channel order, wrong frame, wrong
    // color) breaks by ~all of 0-255.
    "q68_video_stats" -> ((s, _) => {
      import s.implicits._
      val gifs = Multimodal.syntheticMediaPng(s, N, 8)
        .filter(col("kind") === "video")
      val avis = s.range(0, N, 1, 8).filter(_ % 3 == 0).map { id =>
        (id + 1000L, "video", Multimodal.syntheticAvi(id,
          32 + (id % 4).toInt * 16, 32 + (id % 3).toInt * 16))
      }.toDF("media_id", "kind", "payload")
      val frames = Multimodal.extractFrames(gifs.unionByName(avis), everyK = 2)
      val isAvi = col("media_id") >= 1000L
      val aid = col("media_id") - 1000L
      val vv = pmod(aid * 37 + col("frame_idx") * 11, lit(256L))
      val tol = lit(6.0)
      val ok = when(isAvi,
        abs(element_at(col("rgb_mean"), 1) - vv.cast("double")) <= tol &&
          abs(element_at(col("rgb_mean"), 2) - pmod(vv * 3, lit(256L)).cast("double")) <= tol &&
          abs(element_at(col("rgb_mean"), 3) - pmod(vv * 7, lit(256L)).cast("double")) <= tol)
        .otherwise(lit(true))
      def gifMean(i: Int) =
        when(isAvi, lit(null).cast("double")).otherwise(element_at(col("rgb_mean"), i))
      frames.select(col("media_id"),
          when(isAvi, lit("avi")).otherwise(lit("gif")).as("container"),
          col("frame_idx"), col("t_cs"),
          gifMean(1).as("mean_r"), gifMean(2).as("mean_g"), gifMean(3).as("mean_b"),
          ok.as("jpeg_ok"))
        .orderBy("media_id", "frame_idx")
    }),

    // real audio modality: PCM16 WAV payloads built row-side, decoded by
    // the hand-rolled RIFF codec; the gate sticks to integer aggregates
    // (sample count, peak |v|, Σv²) so the oracle is value-exact
    "q52_audio" -> ((s, _) => {
      import s.implicits._
      s.range(0, N, 1, 8).map { id =>
        val n = (100 + id % 50).toInt
        val samples = Array.tabulate(n)(i =>
          (((id * 31 + i * 17) % 4001) - 2000).toShort)
        (id, Multimodal.Wav.encode(8000, 1, samples))
      }.toDF("media_id", "payload")
        .map { r =>
          val (rate, ch, samples) = Multimodal.Wav.decode(r.getAs[Array[Byte]](1))
          var peak = 0L; var sumSq = 0L
          samples.foreach { v =>
            val a = math.abs(v.toLong); if (a > peak) peak = a
            sumSq += v.toLong * v.toLong
          }
          (r.getLong(0), rate, ch, samples.length, peak, sumSq)
        }
        .toDF("media_id", "sample_rate", "channels", "n_samples", "peak_abs", "sum_sq")
        .orderBy("media_id")
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q50_video_frames" ->
      s"""WITH v AS (SELECT range AS id FROM range($N) WHERE range % 3 = 0),
         f AS (SELECT id, unnest(range(0, 2 + id % 4, 2)) AS fi FROM v)
         SELECT id AS media_id, CAST(fi AS INTEGER) AS frame_idx,
           CAST(fi * (2 + id % 10) AS INTEGER) AS t_cs
         FROM f ORDER BY media_id, frame_idx""",
    "q60_video_avi" ->
      s"""WITH v AS (SELECT range AS id FROM range($N) WHERE range % 3 = 0),
         f AS (SELECT id, unnest(range(0, 2 + id % 4, 2)) AS fi FROM v)
         SELECT id AS media_id,
           CAST(32 + (id % 4) * 16 AS INTEGER) AS width,
           CAST(32 + (id % 3) * 16 AS INTEGER) AS height,
           CAST(2 + id % 4 AS INTEGER) AS n_frames,
           CAST(fi AS INTEGER) AS frame_idx,
           CAST(fi * (CASE id % 3 WHEN 0 THEN 20 WHEN 1 THEN 10 ELSE 5 END)
             AS INTEGER) AS t_cs
         FROM f ORDER BY media_id, frame_idx""",
    "q68_video_stats" ->
      s"""WITH gifv AS (SELECT range AS id FROM range($N) WHERE range % 3 = 0),
         dims AS (SELECT id, 16 + (id % 8) * 4 AS w, 12 + (id % 5) * 4 AS h,
             2 + id % 4 AS nf, 2 + id % 10 AS delay FROM gifv),
         fr AS (SELECT id, w, h, nf, delay, unnest(range(0, nf, 2)) AS fi FROM dims),
         pxi AS (SELECT id, w, h, nf, delay, fi, unnest(range(w * h)) AS p FROM fr),
         px AS (SELECT id, w, h, nf, delay, fi,
             CASE WHEN (p % w) >= fi * w // nf AND (p % w) < (fi + 1) * w // nf
               THEN 7 ELSE ((p % w) + (p // w) + fi) % 4 END AS pi
           FROM pxi),
         cols AS (SELECT id, w, h, fi, delay,
             (id * 37 + pi * 29) % 256 AS v FROM px),
         gif AS (SELECT id AS media_id, 'gif' AS container,
             CAST(fi AS INTEGER) AS frame_idx,
             CAST(fi * delay AS INTEGER) AS t_cs,
             CAST(CAST(sum(v) AS BIGINT) AS DOUBLE) / (w * h) AS mean_r,
             CAST(CAST(sum((v * 3) % 256) AS BIGINT) AS DOUBLE) / (w * h) AS mean_g,
             CAST(CAST(sum((v * 7) % 256) AS BIGINT) AS DOUBLE) / (w * h) AS mean_b,
             TRUE AS jpeg_ok
           FROM cols GROUP BY id, w, h, fi, delay),
         aviv AS (SELECT range AS id FROM range($N) WHERE range % 3 = 0),
         avif AS (SELECT id, unnest(range(0, 2 + id % 4, 2)) AS fi FROM aviv),
         avi AS (SELECT id + 1000 AS media_id, 'avi' AS container,
             CAST(fi AS INTEGER) AS frame_idx,
             CAST(fi * (CASE id % 3 WHEN 0 THEN 20 WHEN 1 THEN 10 ELSE 5 END)
               AS INTEGER) AS t_cs,
             CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
             CAST(NULL AS DOUBLE) AS mean_b, TRUE AS jpeg_ok
           FROM avif)
         SELECT * FROM (SELECT * FROM gif UNION ALL SELECT * FROM avi)
         ORDER BY media_id, frame_idx""",
    "q52_audio" ->
      s"""WITH m AS (SELECT range AS id FROM range($N)),
         s AS (SELECT id, unnest(range(0, 100 + id % 50)) AS i FROM m),
         v AS (SELECT id, (id*31 + i*17) % 4001 - 2000 AS val FROM s)
         SELECT id AS media_id, 8000 AS sample_rate, 1 AS channels,
           CAST(count(*) AS INTEGER) AS n_samples,
           max(abs(val)) AS peak_abs, CAST(sum(val*val) AS BIGINT) AS sum_sq
         FROM v GROUP BY id ORDER BY media_id"""
  )
}
