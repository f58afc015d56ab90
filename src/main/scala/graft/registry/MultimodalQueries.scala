package graft
package registry

import graft.operators._
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import Fixtures._

/** SURVEY.md §2 I: multimodal plumbing. */
private[graft] object MultimodalQueries extends Family {
  def queries: Seq[Query] = Seq(
    Query("q_binary_meta", (s, d) =>
      Multimodal.asMedia(T(s, d, "documents").select("doc_id", "text"),
          "text", "text/plain")
        .select(col("doc_id"), col("media_meta.media_type").as("media_type"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.sha").as("sha")),
      Some("""SELECT doc_id, 'text/plain' AS media_type,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |sha256(text) AS sha
        |FROM documents""".stripMargin)),
    // REAL image decode (javax.imageio): synthesize a deterministic
    // RGB PNG per doc, decode it back through the batched codec —
    // PNG is lossless, so width/height/bands and the exact
    // per-channel sample sums replay in SQL from the synthesis
    // arithmetic (promoted from rows-only to oracle-green r13)
    Query("q_media_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(
          Multimodal.synthRgbPng(T(s, d, "documents").select("doc_id")),
          "png", "image/png")
          .select("doc_id", "payload", "media_meta"),
        Multimodal.imageIoCodec)
        .select("doc_id", "feat_width", "feat_height", "feat_channels",
          "feat_sum_r", "feat_sum_g", "feat_sum_b"),
      // media features: PNG decode is lossless, so the decoded
      // per-channel sums ARE the synthesis arithmetic — re-derive them
      // with generate_series over the same (w, h, pixel-formula) space
      Some("""WITH dims AS (SELECT doc_id,
        |CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |CAST(3 + doc_id % 4 AS INTEGER) AS h FROM documents),
        |gx AS (SELECT doc_id, w, h, unnest(generate_series(0, CAST(w AS BIGINT) - 1)) AS x FROM dims),
        |gxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, CAST(h AS BIGINT) - 1)) AS y FROM gx)
        |SELECT doc_id, w AS feat_width, h AS feat_height,
        |CAST(3 AS INTEGER) AS feat_channels,
        |CAST(SUM((doc_id + 3 * x + 7 * y) % 256) AS BIGINT) AS feat_sum_r,
        |CAST(SUM((2 * doc_id + 5 * x + 11 * y) % 256) AS BIGINT) AS feat_sum_g,
        |CAST(SUM((3 * doc_id + x + 13 * y) % 256) AS BIGINT) AS feat_sum_b
        |FROM gxy GROUP BY doc_id, w, h""".stripMargin)),
    // REAL audio decode (javax.sound.sampled): synthesize a
    // deterministic 16-bit PCM WAV per doc, decode it back through
    // the batched codec — PCM is lossless, so rate/channels/frames
    // and the exact per-channel sample sums replay in SQL from the
    // synthesis arithmetic (the audio twin of q_media_features)
    Query("q_audio_features", (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMedia(
          Multimodal.synthWavPcm(T(s, d, "documents").select("doc_id")),
          "wav", "audio/wav")
          .select("doc_id", "payload", "media_meta"),
        Multimodal.audioWavCodec)
        .select("doc_id", "feat_rate", "feat_audio_channels",
          "feat_frames", "feat_sum_ch0", "feat_sum_ch1"),
      // audio features: WAV PCM is lossless, so the decoded per-channel
      // sums ARE the synthesis arithmetic — re-derive them with
      // generate_series over the same (channels, frames, sample-formula)
      Some("""WITH dims AS (SELECT doc_id,
        |CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |CAST(50 + doc_id % 32 AS BIGINT) AS n FROM documents),
        |gi AS (SELECT doc_id, ch, n, unnest(generate_series(0, n - 1)) AS i FROM dims)
        |SELECT doc_id, CAST(8000 AS INTEGER) AS feat_rate,
        |ch AS feat_audio_channels, n AS feat_frames,
        |CAST(SUM((7 * doc_id + 31 * i) % 65536 - 32768) AS BIGINT) AS feat_sum_ch0,
        |CASE WHEN ch = 2 THEN CAST(SUM((7 * doc_id + 31 * i + 17) % 65536 - 32768) AS BIGINT) END AS feat_sum_ch1
        |FROM gi GROUP BY doc_id, ch, n""".stripMargin)),
    // REAL multi-frame sampling (javax.imageio GIF): synthesize a
    // deterministic multi-frame grayscale GIF per doc, explode every
    // 2nd frame with its exact gray-sample sum — the indexed-palette
    // write is lossless, so the per-frame features replay in SQL
    Query("q_frame_sample", (s, d) =>
      Multimodal.frameSampleGif(
        Multimodal.asMedia(
          Multimodal.synthGrayGif(T(s, d, "documents").select("doc_id")),
          "gif", "image/gif")
          .select("doc_id", "payload"),
        stride = 2)
        .select("doc_id", "frame_idx", "frame_width", "frame_height",
          "frame_gray_sum"),
      // frame sampling: the indexed-palette GIF write is lossless, so
      // each sampled frame's gray sum replays from the pixel formula
      Some("""WITH dims AS (SELECT doc_id,
        |CAST(4 + doc_id % 5 AS INTEGER) AS w,
        |CAST(3 + doc_id % 4 AS INTEGER) AS h,
        |CAST(2 + doc_id % 4 AS BIGINT) AS nf FROM documents),
        |fr AS (SELECT doc_id, w, h, unnest(generate_series(0, nf - 1, 2)) AS f FROM dims),
        |gx AS (SELECT doc_id, w, h, f, unnest(generate_series(0, CAST(w AS BIGINT) - 1)) AS x FROM fr),
        |gxy AS (SELECT doc_id, w, h, f, x, unnest(generate_series(0, CAST(h AS BIGINT) - 1)) AS y FROM gx)
        |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
        |w AS frame_width, h AS frame_height,
        |CAST(SUM((doc_id + 5 * x + 3 * y + 11 * f) % 256) AS BIGINT) AS frame_gray_sum
        |FROM gxy GROUP BY doc_id, f, w, h""".stripMargin)),
    // audio fingerprint (the perceptual-hash twin for PCM): REAL WAV
    // decode + 64-window integer energy hash — docs 2k/2k+1 are
    // one-sample-edit near-dups; pairs ride the same hammingPairs
    // band join (spec-covered)
    Query("q_audio_fingerprint", (s, d) =>
      Multimodal.audioEnergyHash64(
        Multimodal.asMedia(
          Multimodal.synthPairWavPcm(T(s, d, "documents")
            .select("doc_id")),
          "wav", "audio/wav")
          .select("doc_id", "payload"))
        .select(col("doc_id"), col("feat_audiohash").as("fingerprint")),
      // audio fingerprint: WAV PCM is lossless and the 64 windows are
      // index arithmetic, so per-window |sample| energies, the mean
      // threshold, and the signed 64-bit code all re-derive in SQL
      // (the HUGEINT wrap trick, as q_image_phash)
      Some("""WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(256 + (doc_id // 2) % 64 AS BIGINT) AS n FROM documents),
        |gk AS (SELECT doc_id, base, n, unnest(generate_series(0, 63)) AS k FROM dims),
        |gi AS (SELECT doc_id, base, k, unnest(generate_series(k * n // 64, (k + 1) * n // 64 - 1)) AS i FROM gk),
        |en AS (SELECT doc_id, k,
        |SUM(ABS(CASE WHEN doc_id % 2 = 1 AND i = 0
        |THEN ((7 * base + 31 * i) % 65536 + 16384) % 65536 - 32768
        |ELSE (7 * base + 31 * i) % 65536 - 32768 END)) AS e
        |FROM gi GROUP BY doc_id, k),
        |m AS (SELECT doc_id, SUM(e) // 64 AS mean FROM en GROUP BY doc_id),
        |s AS (SELECT en.doc_id,
        |COALESCE(SUM(CASE WHEN en.e > m.mean THEN CAST(1 AS HUGEINT) << CAST(en.k AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM en JOIN m USING (doc_id) GROUP BY en.doc_id)
        |SELECT doc_id, CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS fingerprint
        |FROM s""".stripMargin)),
    // LAION-style perceptual image hash: REAL decode + nearest-
    // neighbor 8x8 aHash (index arithmetic, no resample kernel, so
    // the 64-bit code replays in SQL from the synthesis formula);
    // docs 2k/2k+1 are one-pixel-edit near-dups by construction
    Query("q_image_phash", (s, d) =>
      Multimodal.imageAHash64(
        Multimodal.asMedia(
          Multimodal.synthPairGrayPng(T(s, d, "documents")
            .select("doc_id")),
          "png", "image/png")
          .select("doc_id", "payload"))
        .select(col("doc_id"), col("feat_ahash").as("ahash")),
      // perceptual hash: PNG is lossless and the 8x8 downsample is
      // pure index math, so the full 64-bit signed code re-derives in
      // SQL — HUGEINT accumulates the unsigned bits, then wraps to the
      // signed BIGINT exactly as a Java long would
      Some("""WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(8 + (doc_id // 2) % 5 AS BIGINT) AS w,
        |CAST(8 + (doc_id // 2) % 4 AS BIGINT) AS h FROM documents),
        |gi AS (SELECT doc_id, base, w, h, unnest(generate_series(0, 7)) AS i FROM dims),
        |gij AS (SELECT doc_id, base, w, h, i, unnest(generate_series(0, 7)) AS j FROM gi),
        |cel AS (SELECT doc_id, base, i, j, (i * w) // 8 AS x, (j * h) // 8 AS y FROM gij),
        |g AS (SELECT doc_id, i, j,
        |CASE WHEN doc_id % 2 = 1 AND x = 0 AND y = 0
        |THEN ((3 * base + 7 * x + 11 * y) % 256 + 128) % 256
        |ELSE (3 * base + 7 * x + 11 * y) % 256 END AS gray FROM cel),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM g GROUP BY doc_id),
        |s AS (SELECT g.doc_id,
        |COALESCE(SUM(CASE WHEN g.gray > m.mean THEN CAST(1 AS HUGEINT) << CAST(8 * g.j + g.i AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id)
        |SELECT doc_id, CAST(CASE WHEN uh >= CAST(1 AS HUGEINT) << 63
        |THEN uh - (CAST(1 AS HUGEINT) << 64) ELSE uh END AS BIGINT) AS ahash
        |FROM s""".stripMargin)),
    // image near-dup pairs over the aHash codes: the SAME hamming
    // band equi-join as text SimHash (pigeonhole-exact for <= 3),
    // never all-pairs — IMAGE dedup as a shuffle-on-band-key join
    Query("q_image_phash_pairs", (s, d) =>
      Dedup.hammingPairs(
        Multimodal.imageAHash64(
          Multimodal.asMedia(
            Multimodal.synthPairGrayPng(T(s, d, "documents")
              .select("doc_id")),
            "png", "image/png")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"), col("feat_ahash").as("code")),
        maxHamming = 3, bands = 4),
      // phash pairs: identical-pipeline replay — same hash derivation,
      // same 4x16-bit band equi-join over the unsigned HUGEINT codes,
      // same hamming cutoff
      Some("""WITH dims AS (SELECT doc_id, doc_id // 2 AS base,
        |CAST(8 + (doc_id // 2) % 5 AS BIGINT) AS w,
        |CAST(8 + (doc_id // 2) % 4 AS BIGINT) AS h FROM documents),
        |gi AS (SELECT doc_id, base, w, h, unnest(generate_series(0, 7)) AS i FROM dims),
        |gij AS (SELECT doc_id, base, w, h, i, unnest(generate_series(0, 7)) AS j FROM gi),
        |cel AS (SELECT doc_id, base, i, j, (i * w) // 8 AS x, (j * h) // 8 AS y FROM gij),
        |g AS (SELECT doc_id, i, j,
        |CASE WHEN doc_id % 2 = 1 AND x = 0 AND y = 0
        |THEN ((3 * base + 7 * x + 11 * y) % 256 + 128) % 256
        |ELSE (3 * base + 7 * x + 11 * y) % 256 END AS gray FROM cel),
        |m AS (SELECT doc_id, SUM(gray) // 64 AS mean FROM g GROUP BY doc_id),
        |ph AS (SELECT g.doc_id,
        |COALESCE(SUM(CASE WHEN g.gray > m.mean THEN CAST(1 AS HUGEINT) << CAST(8 * g.j + g.i AS INTEGER) END), CAST(0 AS HUGEINT)) AS uh
        |FROM g JOIN m USING (doc_id) GROUP BY g.doc_id),
        |bd AS (SELECT doc_id, uh, unnest(generate_series(0, 3)) AS b FROM ph),
        |bk AS (SELECT doc_id, uh, b, CAST((uh >> CAST(16 * b AS INTEGER)) & 65535 AS BIGINT) AS key FROM bd),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id, x.uh AS a_uh, y.uh AS b_uh
        |FROM bk x JOIN bk y ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(a_uh, b_uh)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(a_uh, b_uh)) <= 3""".stripMargin)),
    // DCT pHash near-dup pairs over the frequency-domain fixture
    // (tiled textures + a one-pixel soft edit): same banded hamming
    // equi-join, never all-pairs. The DCT's doubles are not
    // SQL-replayable (StrictMath trig) → rows-only gate; the
    // invariance + exact-pair-set contracts are property-pinned in
    // MiscOpsSpec
    // SPECTRAL audio near-dup pairs (the chromaprint-shaped upgrade
    // of q_audio_fingerprint's FFT-free energy hash): StrictMath-DCT
    // band fingerprint over square-wave near-dup pairs, same banded
    // hamming equi-join. Doubles are not SQL-replayable → rows-only
    // gate; offset/gain/stereo invariances + the exact pair set are
    // property-pinned in MiscOpsSpec
    Query("q_audio_spectral", (s, d) =>
      Dedup.hammingPairs(
        Multimodal.audioSpectralHash64(
          Multimodal.asMedia(
            Multimodal.synthPairWavPcmSoft(T(s, d, "documents")
              .select("doc_id")),
            "wav", "audio/wav")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"),
            col("feat_spectralhash").as("code")),
        maxHamming = 3, bands = 4), None),
    Query("q_image_dcthash", (s, d) =>
      Dedup.hammingPairs(
        Multimodal.imageDctHash64(
          Multimodal.asMedia(
            Multimodal.synthPairGrayPngSoft(T(s, d, "documents")
              .select("doc_id")),
            "png", "image/png")
            .select("doc_id", "payload"))
          .select(col("doc_id").as("id"), col("feat_dcthash").as("code")),
        maxHamming = 3, bands = 4), None))
}
