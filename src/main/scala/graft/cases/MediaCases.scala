package graft.cases

import org.apache.spark.sql.functions._

import graft.Case
import graft.Case._
import graft.multimodal.Multimodal

/** Multimodal plane over deterministic synthetic media: the twins
  * recompute every value from the generator formula
  * h(c, i) = (c*1000003 + i*7919 + 12345) % 1000000007.
  */
object MediaCases {
  val cases: Seq[Case] = Seq(
    // frame-sampling plumbing (flatMap/Unfold shape) over the
    // deterministic media table — per-media frame count + last sampled
    // timestamp have closed arithmetic forms, so even this plane gets a
    // full-value oracle (codec itself stays stubbed): frame count =
    // min(max(duration/5000, 1), 16), duration = 1000 + h(i,5) % 60000 —
    // mirrors Multimodal.syntheticMedia + DecodeStub
    query("m_frames",
      """WITH m AS (SELECT unnest(generate_series(0, 499)) AS i),
        |d AS (SELECT i, 1000 + ((CAST(i AS BIGINT)*1000003 + 5*7919 + 12345) % 1000000007) % 60000 AS dur
        |      FROM m WHERE i % 3 <> 0)
        |SELECT CAST(i AS BIGINT) AS media_id,
        |       CAST(least(greatest(dur // 5000, 1), 16) AS BIGINT) AS n_frames,
        |       CAST((least(greatest(dur // 5000, 1), 16) - 1) * 5000 AS BIGINT) AS max_ts_ms
        |FROM d""".stripMargin) { (s, _) =>
      val media = Multimodal.syntheticMedia(s, 500L)
      Multimodal.sampleFrames(media, 5000L)
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"), max(col("ts_ms")).as("max_ts_ms"))
    },
    // REAL image decode (javax.imageio): hash-pixel PNGs → ImageIO
    // decode → exact order-sensitive pixel checksum; the twin
    // recomputes the pixels — pixel (p) of image c is rgb =
    // (h(c,1e5+p), h(c,2e5+p), h(c,3e5+p)) % 256 — so any codec error
    // (wrong channel order, transpose, lossy write) breaks the hash
    query("m_image_decode",
      """WITH m AS (SELECT CAST(unnest(generate_series(0, 199)) AS BIGINT) AS c),
        |dims AS (SELECT c,
        |    8 + ((c*1000003 + CAST(30 AS BIGINT)*7919 + 12345) % 1000000007) % 9 AS w,
        |    8 + ((c*1000003 + CAST(31 AS BIGINT)*7919 + 12345) % 1000000007) % 9 AS h
        |  FROM m),
        |ps AS (SELECT CAST(unnest(generate_series(0, 255)) AS BIGINT) AS p),
        |px AS (SELECT d.c, d.w, d.h, ps.p,
        |    ((d.c*1000003 + (100000 + ps.p)*7919 + 12345) % 1000000007) % 256 AS r,
        |    ((d.c*1000003 + (200000 + ps.p)*7919 + 12345) % 1000000007) % 256 AS g,
        |    ((d.c*1000003 + (300000 + ps.p)*7919 + 12345) % 1000000007) % 256 AS b
        |  FROM dims d CROSS JOIN ps WHERE ps.p < d.w * d.h)
        |SELECT c AS media_id, CAST(min(w) AS INT) AS width, CAST(min(h) AS INT) AS height,
        |       CAST(sum((p + 1) * (r + 2*g + 4*b)) AS BIGINT) AS checksum
        |FROM px GROUP BY c""".stripMargin)((s, _) =>
      Multimodal.decodeImages(Multimodal.syntheticImages(s, 200L)).toDF),
    // decode → nearest-neighbor resize to 8×8 → PNG re-encode → decode
    // again: the checksum proves the full round trip pixel-exactly. Out
    // pixel q picks source pixel p = ((q//8)*h//8)*w + ((q%8)*w//8) —
    // floor-div on both sides
    query("m_image_resize",
      """WITH m AS (SELECT CAST(unnest(generate_series(0, 199)) AS BIGINT) AS c),
        |dims AS (SELECT c,
        |    8 + ((c*1000003 + CAST(30 AS BIGINT)*7919 + 12345) % 1000000007) % 9 AS w,
        |    8 + ((c*1000003 + CAST(31 AS BIGINT)*7919 + 12345) % 1000000007) % 9 AS h
        |  FROM m),
        |qs AS (SELECT CAST(unnest(generate_series(0, 63)) AS BIGINT) AS q),
        |src AS (SELECT d.c, qs.q,
        |    ((qs.q // 8) * d.h // 8) * d.w + ((qs.q % 8) * d.w // 8) AS p
        |  FROM dims d CROSS JOIN qs),
        |px AS (SELECT c, q,
        |    ((c*1000003 + (100000 + p)*7919 + 12345) % 1000000007) % 256 AS r,
        |    ((c*1000003 + (200000 + p)*7919 + 12345) % 1000000007) % 256 AS g,
        |    ((c*1000003 + (300000 + p)*7919 + 12345) % 1000000007) % 256 AS b
        |  FROM src)
        |SELECT c AS media_id, CAST(sum((q + 1) * (r + 2*g + 4*b)) AS BIGINT) AS checksum
        |FROM px GROUP BY c""".stripMargin)((s, _) =>
      Multimodal.decodeImages(
        Multimodal.resizeImages(Multimodal.syntheticImages(s, 200L), 8, 8))
        .toDF.select(col("media_id"), col("checksum"))),
    // REAL audio decode (javax.sound.sampled): hash-sample 16-bit PCM
    // WAVs → RIFF container decode → exact order-sensitive sample
    // checksum; the twin recomputes the samples — sample p of clip c is
    // (h(c, 5e5+p) % 65536) - 32768, n_samples = 64 + h(c,40) % 129,
    // checksum sums (p+1)*(s_p + 32768) — so any codec error
    // (endianness, header offset, width) breaks the hash
    query("m_audio_decode",
      """WITH m AS (SELECT CAST(unnest(generate_series(0, 299)) AS BIGINT) AS c),
        |ns AS (SELECT c, 64 + ((c*1000003 + CAST(40 AS BIGINT)*7919 + 12345) % 1000000007) % 129 AS ns
        |  FROM m),
        |ps AS (SELECT CAST(unnest(generate_series(0, 192)) AS BIGINT) AS p),
        |sm AS (SELECT n.c, n.ns, ps.p,
        |    ((n.c*1000003 + (500000 + ps.p)*7919 + 12345) % 1000000007) % 65536 AS su
        |  FROM ns n CROSS JOIN ps WHERE ps.p < n.ns)
        |SELECT c AS media_id, CAST(min(ns) AS INT) AS n_samples,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(sum((p + 1) * su) AS BIGINT) AS checksum
        |FROM sm GROUP BY c""".stripMargin)((s, _) =>
      Multimodal.decodeAudio(Multimodal.syntheticWavs(s, 300L)).toDF)
  )
}
