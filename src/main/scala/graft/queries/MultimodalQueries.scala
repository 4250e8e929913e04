package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import graft.QuerySpec.Q
import graft.SparkEntry._

/** Multimodal plumbing: binary columns, with the decode layer stubbed. */
object MultimodalQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("media_features", (s, d) =>
      Multimodal.featureBuckets(Multimodal.fakeMediaFromDocs(t(s, d).documents))
        .orderBy("media_id", "bucket"))(
      // the codec-free byte histogram is SQL-expressible: bucket =
      // byte // 16, weight = float32(cnt)/float32(len). Corpus is ASCII
      // (verified), so per-character ascii() == the UTF-8 byte value.
      """WITH ch AS (SELECT doc_id AS media_id, length(text) AS n, unnest(string_split(text, '')) AS c
        |            FROM documents WHERE length(text) > 0),
        | cnt AS (SELECT media_id, n, CAST(ascii(c) // 16 AS BIGINT) AS bucket, count(*) AS cnt
        |          FROM ch GROUP BY media_id, n, ascii(c) // 16)
        |SELECT media_id, bucket, CAST(CAST(cnt AS REAL) / CAST(n AS REAL) AS DOUBLE) AS weight
        |FROM cnt ORDER BY media_id, bucket""".stripMargin),
    Q("frame_sample", (s, d) =>
      Multimodal.sampleFrames(Multimodal.fakeMediaFromDocs(t(s, d).documents))
        .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id"))(
      // deterministic frame arithmetic: ceil(bytes/64) frames, stride 4
      """SELECT doc_id AS media_id,
        | (CAST(ceil(length(text) / 64.0) AS BIGINT) + 3) // 4 AS n_frames
        |FROM documents WHERE length(text) > 0 ORDER BY media_id""".stripMargin),
    // REAL codec path: PNGs encoded and decoded with javax.imageio
    // inside the plan; the luminance histogram of the decoded raster is
    // hash-checked against the fixture pattern's closed form in DuckDB
    Q("image_features", (s, d) =>
      Multimodal.imageLumaHistogram(Multimodal.pngMediaFromDocs(t(s, d).documents))
        .orderBy("media_id", "bucket"))(
      // the REAL decode path's twin: the fixture writes gray pixel
      // v = ((id%256)*31 + x*7 + y*13) % 256 at (x, y), PNG is lossless,
      // luminance of gray is v — so the decoded histogram equals the
      // pattern's closed form evaluated over the pixel grid
      """WITH m AS (SELECT doc_id, doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h FROM documents),
        | px AS (SELECT doc_id, w, unnest(generate_series(0, w * h - 1)) AS p FROM m),
        | v AS (SELECT doc_id,
        |   ((((doc_id % 256) * 31 + (p % w) * 7 + (p // w) * 13) % 256) // 16) AS bucket FROM px)
        |SELECT doc_id AS media_id, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_px
        |FROM v GROUP BY 1, 2 ORDER BY media_id, bucket""".stripMargin),
    // fused decode→resize→features (one codec pass; the re-encoding
    // storage path resizeImage is pixel-proven in MultimodalSpec)
    Q("image_resize_features", (s, d) =>
      Multimodal.imageLumaHistogramResized(
          Multimodal.pngMediaFromDocs(t(s, d).documents), 32, 24)
        .orderBy("media_id", "bucket"))(
      // nearest-neighbor remap src = (dst * srcDim) // dstDim composed
      // into the same closed form, evaluated over the 32x24 output grid
      """WITH m AS (SELECT doc_id, doc_id % 64 + 16 AS w, doc_id % 48 + 16 AS h FROM documents),
        | px AS (SELECT doc_id, w, h, unnest(generate_series(0, 32 * 24 - 1)) AS p FROM m),
        | v AS (SELECT doc_id,
        |   ((((doc_id % 256) * 31 + (((p % 32) * w) // 32) * 7
        |      + (((p // 32) * h) // 24) * 13) % 256) // 16) AS bucket FROM px)
        |SELECT doc_id AS media_id, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_px
        |FROM v GROUP BY 1, 2 ORDER BY media_id, bucket""".stripMargin),
    // REAL audio path: WAV PCM encoded and decoded with
    // javax.sound.sampled inside the plan; features over actual
    // decoded samples, hash-checked against the waveform's closed form
    Q("audio_features", (s, d) =>
      Multimodal.audioAmplitudeHistogram(Multimodal.wavMediaFromDocs(t(s, d).documents))
        .orderBy("media_id", "bucket"))(
      // the REAL audio path's twin: the fixture writes signed sample
      // s = ((id%97)*31 + i*7919) % 65536 - 32768 at index i, WAV PCM is
      // lossless — the decoded amplitude histogram equals the closed
      // form over the sample grid
      """WITH m AS (SELECT doc_id, (doc_id % 50 + 10) * 80 AS n FROM documents),
        | ix AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM m),
        | s AS (SELECT doc_id, ((doc_id % 97) * 31 + i * 7919) % 65536 - 32768 AS s FROM ix)
        |SELECT doc_id AS media_id, CAST((s + 32768) // 4096 AS BIGINT) AS bucket, count(*) AS n_samples
        |FROM s GROUP BY 1, 2 ORDER BY media_id, bucket""".stripMargin),
    Q("audio_frame_energy", (s, d) =>
      Multimodal.audioFrameEnergy(Multimodal.wavMediaFromDocs(t(s, d).documents))
        .orderBy("media_id", "frame_idx"))(
      """WITH m AS (SELECT doc_id, (doc_id % 50 + 10) * 80 AS n FROM documents),
        | ix AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM m),
        | s AS (SELECT doc_id, i, ((doc_id % 97) * 31 + i * 7919) % 65536 - 32768 AS s FROM ix)
        |SELECT doc_id AS media_id, CAST(i // 256 AS BIGINT) AS frame_idx,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy
        |FROM s GROUP BY 1, 2 ORDER BY media_id, frame_idx""".stripMargin),
    // REAL video path: GVID frame container, every sampled frame
    // PNG-decoded via javax.imageio and featurized on actual pixels
    Q("video_frame_features", (s, d) =>
      Multimodal.videoFrameFeatures(Multimodal.videoFromDocs(t(s, d).documents))
        .orderBy("media_id", "frame_idx", "bucket"))(
      // the video path's twin: sampled frames f ∈ {0, 2, 4}, per-frame
      // pattern id doc_id*7+f, same pixel closed form as image_features
      """WITH m AS (SELECT doc_id, doc_id % 4 + 2 AS nf FROM documents),
        | fr AS (SELECT doc_id, unnest(generate_series(0, nf - 1, 2)) AS f FROM m),
        | px AS (SELECT doc_id, f, unnest(generate_series(0, 16 * 12 - 1)) AS p FROM fr),
        | v AS (SELECT doc_id, f,
        |   ((((doc_id * 7 + f) % 256) * 31 + (p % 16) * 7 + (p // 16) * 13) % 256) // 16 AS bucket
        |   FROM px)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(bucket AS BIGINT) AS bucket, count(*) AS n_px
        |FROM v GROUP BY 1, 2, 3 ORDER BY media_id, frame_idx, bucket""".stripMargin))
}
