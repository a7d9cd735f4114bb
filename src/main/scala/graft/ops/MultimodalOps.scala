package graft
package ops

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.funcs._
import graft.llm.Multimodal
import Shared._

/** Multimodal queries: image, GIF, video and audio decoding,
  * resampling, and perceptual / spectral near-duplicate detection. */
object MultimodalOps {
  val ops: Seq[Op] = Seq(
    // --- multimodal: binary payload column + batched REAL header decode.
    // Payloads are genuine PNG / JPEG headers built in-SQL with dimensions
    // derived from doc_id (multi-byte values >255, so a big-endian bug
    // can't cancel out), followed by the document bytes; the oracle
    // recomputes width/height/byte_len ARITHMETICALLY from doc_id, so a
    // wrong parser hash-mismatches. ---
    Op("q_multimodal_meta", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = df
            .where(F.col("lang") === "en" && F.col("doc_id") < 100)
            .withColumn("payload", F.expr(
              """concat(
                   CASE WHEN doc_id % 2 = 0 THEN
                     unhex(concat('89504E470D0A1A0A', '0000000D', '49484452',
                       lpad(hex(200 + doc_id * 3), 8, '0'),
                       lpad(hex(150 + doc_id * 5), 8, '0'),
                       '0806000000'))
                   ELSE
                     unhex(concat('FFD8',
                       'FFE000104A46494600010100000100010000',
                       'FFC0001108',
                       lpad(hex(150 + doc_id * 5), 4, '0'),
                       lpad(hex(200 + doc_id * 3), 4, '0'),
                       '03012200021101031101'))
                   END,
                   cast(text AS binary))"""))
          graft.llm.Multimodal.decode(withPayload, "payload")
            .select(F.col("doc_id"), F.col("meta.format"), F.col("meta.width"),
              F.col("meta.height"), F.col("meta.byte_len"),
              F.sha2(F.col("text").cast("binary"), 256).as("text_sha"))
        }
        .sort(col("doc_id"))
        .run(s),
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           CAST(200 + doc_id * 3 AS INT) AS width,
           CAST(150 + doc_id * 5 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 29 ELSE 39 END
             + octet_length(CAST(text AS BLOB)) AS byte_len,
           sha256(text) AS text_sha
         FROM documents WHERE lang = 'en' AND doc_id < 100 ORDER BY doc_id"""),

    // --- multimodal audio: synthesized canonical 44-byte WAV headers
    //     (little-endian fields built in SQL hex) + text bytes as samples;
    //     the RIFF chunk walk recovers rate/channels/duration and the
    //     oracle replays the same arithmetic ---
    Op("q_multimodal_audio", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          def le16(e: String) =
            s"substr(lpad(hex($e), 4, '0'), 3, 2) || substr(lpad(hex($e), 4, '0'), 1, 2)"
          def le32(e: String) =
            s"""substr(lpad(hex($e), 8, '0'), 7, 2) || substr(lpad(hex($e), 8, '0'), 5, 2) ||
               substr(lpad(hex($e), 8, '0'), 3, 2) || substr(lpad(hex($e), 8, '0'), 1, 2)"""
          val withPayload = df
            .where(F.col("lang") === "de" && F.col("doc_id") < 200)
            .withColumn("__sr__", F.expr("CAST(8000 + (doc_id % 5) * 2000 AS INT)"))
            .withColumn("__ch__", F.expr("CAST(1 + (doc_id % 2) AS INT)"))
            .withColumn("__dl__", F.expr("length(cast(text AS binary))"))
            .withColumn("__br__", F.expr("__sr__ * __ch__ * 2"))
            .withColumn("payload", F.expr(s"""unhex(concat(
                 '52494646', ${le32("36 + __dl__")}, '57415645',
                 '666d7420', '10000000', '0100', ${le16("__ch__")},
                 ${le32("__sr__")}, ${le32("__br__")}, ${le16("__ch__ * 2")}, '1000',
                 '64617461', ${le32("__dl__")}, hex(cast(text AS binary))))"""))
          graft.llm.Multimodal.decode(withPayload, "payload")
            .select(F.col("doc_id"), F.col("meta.format"),
              F.col("meta.sample_rate"), F.col("meta.n_channels"),
              F.col("meta.duration_ms"), F.col("meta.byte_len"))
        }
        .sort(col("doc_id"))
        .run(s),
      """SELECT doc_id, 'wav' AS format,
           CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
           CAST(1 + (doc_id % 2) AS INT) AS n_channels,
           CAST((octet_length(CAST(text AS BLOB)) * 1000)
                // (CAST(8000 + (doc_id % 5) * 2000 AS BIGINT)
                   * (1 + (doc_id % 2)) * 2) AS BIGINT) AS duration_ms,
           44 + octet_length(CAST(text AS BLOB)) AS byte_len
         FROM documents WHERE lang = 'de' AND doc_id < 200 ORDER BY doc_id"""),

    // --- Frame-level audio features: 64-sample frames of exact integer
    //     energy / zero-crossings / peak over REAL 16-bit PCM decoded from
    //     fixture WAVs (canonical header + a JUNK filler chunk, samples a
    //     closed form of (doc_id, i)). The oracle replays the closed form
    //     per frame — matching requires a true RIFF chunk walk plus a
    //     byte-exact little-endian s16 decode. ---
    Op("q_multimodal_audio_frames", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 16, Multimodal.wavFixture)
          graft.llm.Multimodal.audioFrameFeatures(withPayload, "payload",
              frameSamples = 64)
            .select(F.col("doc_id"), F.explode(F.col("aframes")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_samples").as("n_samples"),
              F.col("fr.sum_sq").as("sum_sq"),
              F.col("fr.zero_cross").as("zero_cross"),
              F.col("fr.max_abs").as("max_abs"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s),
      // Replays wavFixture's closed form s(i) = ((7·id + 13·i) mod 2048) −
      // 1024 over 64-sample frames: exact integer energy, strict
      // sign-product zero crossings (frame-local lag), peak amplitude.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 16),
         s AS (
           SELECT d.doc_id, i.i,
                  ((7 * d.doc_id + 13 * i.i) % 2048) - 1024 AS v,
                  CAST(i.i // 64 AS INT) AS frame_ix
           FROM d CROSS JOIN range(0, 480) i(i)
           WHERE i.i < 240 + (d.doc_id % 7) * 40),
         fr AS (
           SELECT doc_id, frame_ix, i, v,
                  lag(v) OVER (PARTITION BY doc_id, frame_ix ORDER BY i) AS pv
           FROM s)
         SELECT doc_id, frame_ix,
                CAST(count(*) AS INT) AS n_samples,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(count(*) FILTER (WHERE pv IS NOT NULL AND pv * v < 0)
                     AS INT) AS zero_cross,
                CAST(max(abs(v)) AS INT) AS max_abs
         FROM fr GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- Full PNG pixel decode (chunk walk → Inflater → unfilter, all
    //     five filter types): per-channel sum/min/max over deterministic
    //     fixture PNGs whose dims and every pixel are a closed form of
    //     doc_id (Multimodal.pngFixture). The oracle replays the closed
    //     form over a range cross-join — the compressed IDAT bytes only
    //     reproduce it if the inflate+unfilter pass is byte-exact. One
    //     narrow mapPartitions per stage, no shuffle until the sort. ---
    Op("q_multimodal_pixels", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.pngFixture)
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s),
      // Replays pngFixture's closed form (w = 8+id%5, h = 6+id%7,
      // v = (7x+13y+31c+3·id) mod 256) over a range cross-join; the Spark
      // side recovers the same values only via a byte-exact PNG pixel
      // decode of real deflate-compressed, filter-encoded scanlines.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c,
                  (7 * x.x + 13 * y.y + 31 * c.c + 3 * d.doc_id) % 256 AS v
           FROM d
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- ViT patch prep: 4×4 fixed-grid patch means over the same
    //     closed-form fixture PNGs (full tiles only). The oracle replays
    //     the pixel formula over each tile — the decoded raster only
    //     reproduces it if inflate + unfilter + the tile accumulation are
    //     all byte-exact. Patch means are integer sums over 16 (a power
    //     of two), so the doubles are exact on both engines. ---
    Op("q_multimodal_patches", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.pngFixture)
          graft.llm.Multimodal.patchMeans(withPayload, "payload", patch = 4)
            .select(F.col("doc_id"), F.explode(F.col("patches")).as("pt"))
            .select(F.col("doc_id"), F.col("pt.py").cast("long").as("py"),
              F.col("pt.px").cast("long").as("px"),
              F.posexplode(F.col("pt.means")).as(Seq("channel", "mean_v")))
            .select(F.col("doc_id"), F.col("py"), F.col("px"),
              F.col("channel").cast("long").as("channel"), F.col("mean_v"))
        }
        .sort(col("doc_id")).sort(col("py")).sort(col("px")).sort(col("channel"))
        .run(s),
      // Replays pngFixture's closed form over each FULL 4×4 tile: mean =
      // sum of (7x+13y+31c+3·id) mod 256 over the tile, / 16 (exact in
      // double), 6-dp round as a formatting no-op.
      """WITH d AS (SELECT doc_id,
                  8 + doc_id % 5 AS w, 6 + doc_id % 7 AS h
           FROM documents WHERE doc_id < 12),
         t AS (
           SELECT d.doc_id, py.py, px.px, c.c,
                  (7 * (px.px * 4 + dx.dx) + 13 * (py.py * 4 + dy.dy)
                   + 31 * c.c + 3 * d.doc_id) % 256 AS v
           FROM d
           CROSS JOIN range(0, 3) py(py)
           CROSS JOIN range(0, 3) px(px)
           CROSS JOIN range(0, 3) c(c)
           CROSS JOIN range(0, 4) dy(dy)
           CROSS JOIN range(0, 4) dx(dx)
           WHERE px.px < w // 4 AND py.py < h // 4)
         SELECT doc_id, py, px, c AS channel,
                round(CAST(sum(v) AS DOUBLE) / 16, 6) AS mean_v
         FROM t GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""),

    // --- Full GIF pixel decode (variable-width LZW decompression +
    //     palette mapping, pure JDK): per-channel stats over fixture GIFs
    //     whose pixel INDICES are a closed form of doc_id and whose
    //     palette is the fixed (i, 2i, 3i) mod 256 ramp. The oracle
    //     replays the closed form; only a correct LZW decode of the real
    //     compressed code stream reproduces it. ---
    Op("q_multimodal_gif", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.gifFixture)
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s),
      // Replays gifFixture's closed form: pixel index (11x+17y+3·id) mod 256
      // through the fixed palette ramp — channel c's value is
      // (idx·(c+1)) mod 256. Matching requires a byte-exact LZW decode.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c,
                  (((11 * x.x + 17 * y.y + 3 * d.doc_id) % 256) * (c.c + 1)) % 256 AS v
           FROM d
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- Video-style frame sampling: every-2nd-frame per-channel stats
    //     over ANIMATED fixture GIFs (3-6 full LZW-compressed frames each,
    //     pixel index a closed form of (frame, x, y, doc_id)). Unsampled
    //     frames are length-prefix-hopped, never entropy-decoded — the
    //     sampled-frames-only cost a video pipeline needs. The oracle
    //     replays the closed form restricted to even frame indices. ---
    Op("q_multimodal_frames", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.gifAnimFixture)
          graft.llm.Multimodal.frameSample(withPayload, "payload", every = 2)
            .select(F.col("doc_id"), F.explode(F.col("frames")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("fr.sums").as("sums"), F.col("fr.mins").as("mins"),
                F.col("fr.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"), F.col("frame_ix"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("frame_ix")).sort(col("channel"))
        .run(s),
      // Replays gifAnimFixture's closed form over the SAMPLED (even) frame
      // indices: pixel index (11x+17y+23f+3·id) mod 256 through the palette
      // ramp; matching requires the frame walk to locate and LZW-decode
      // exactly frames 0, 2, 4 of each animation.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, f.f, c.c,
                  (((11 * x.x + 17 * y.y + 23 * f.f + 3 * d.doc_id) % 256)
                   * (c.c + 1)) % 256 AS v
           FROM d
           CROSS JOIN range(0, 6) f(f)
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < 8 + d.doc_id % 5 AND y.y < 6 + d.doc_id % 7
             AND f.f < 3 + d.doc_id % 4 AND f.f % 2 = 0)
         SELECT doc_id, CAST(f AS INT) AS frame_ix, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // --- Image RESIZE: 2× box downscale (output pixel = sum div 4 of its
    //     source tile) re-encoded as a real PNG, then decoded back to
    //     stats — the oracle replays the tile arithmetic over the fixture
    //     closed form, so both the resize AND the PNG re-encode/decode
    //     round-trip must be byte-exact ---
    Op("q_multimodal_resize", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.pngFixture)
          val resized = graft.llm.Multimodal.resizePng(withPayload, "payload",
            factor = 2)
          graft.llm.Multimodal.decodePixels(resized, "resized")
            .select(F.col("doc_id"), F.col("px.n_px").as("n_px"),
              F.posexplode(F.arrays_zip(
                F.col("px.sums").as("sums"), F.col("px.mins").as("mins"),
                F.col("px.maxs").as("maxs"))).as(Seq("channel", "st")))
            .select(F.col("doc_id"),
              F.col("channel").cast("int").as("channel"), F.col("n_px"),
              F.col("st.sums").as("sum_v"), F.col("st.mins").as("min_v"),
              F.col("st.maxs").as("max_v"))
        }
        .sort(col("doc_id")).sort(col("channel"))
        .run(s),
      // Replays the 2× box downscale of pngFixture's closed form: output
      // pixel = (sum of the 2×2 source tile) // 4; stats over the halved
      // grid — matching requires resize arithmetic AND the PNG
      // re-encode/decode round-trip to be byte-exact.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, c.c, ox.ox, oy.oy,
                  CAST(sum((7 * (2 * ox.ox + dx.dx) + 13 * (2 * oy.oy + dy.dy)
                            + 31 * c.c + 3 * d.doc_id) % 256) // 4 AS BIGINT) AS v
           FROM d
           CROSS JOIN range(0, 6) ox(ox)
           CROSS JOIN range(0, 6) oy(oy)
           CROSS JOIN range(0, 2) dx(dx)
           CROSS JOIN range(0, 2) dy(dy)
           CROSS JOIN range(0, 3) c(c)
           WHERE ox.ox < (8 + d.doc_id % 5) // 2
             AND oy.oy < (6 + d.doc_id % 7) // 2
           GROUP BY 1, 2, 3, 4)
         SELECT doc_id, CAST(c AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- Audio RESAMPLE: 2× decimation re-encoded as a real mono WAV at
    //     half the rate, then frame features over the decimated stream —
    //     the oracle replays the stride-2 closed form ---
    Op("q_multimodal_resample", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 14, Multimodal.wavFixture)
          val res = graft.llm.Multimodal.resampleWav(withPayload, "payload",
            factor = 2)
          graft.llm.Multimodal.audioFrameFeatures(res, "resampled",
              frameSamples = 32)
            .select(F.col("doc_id"), F.explode(F.col("aframes")).as("fr"))
            .select(F.col("doc_id"), F.col("fr.frame_ix").as("frame_ix"),
              F.col("fr.n_samples").as("n_samples"),
              F.col("fr.sum_sq").as("sum_sq"),
              F.col("fr.zero_cross").as("zero_cross"),
              F.col("fr.max_abs").as("max_abs"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s),
      // Replays wavFixture decimated by 2: s'(i) = ((7·id + 26·i) mod 2048)
      // − 1024 over half the samples, framed at 32.
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 14),
         s AS (
           SELECT d.doc_id, i.i,
                  ((7 * d.doc_id + 26 * i.i) % 2048) - 1024 AS v,
                  CAST(i.i // 32 AS INT) AS frame_ix
           FROM d CROSS JOIN range(0, 240) i(i)
           WHERE i.i < 120 + (d.doc_id % 7) * 20),
         fr AS (
           SELECT doc_id, frame_ix, i, v,
                  lag(v) OVER (PARTITION BY doc_id, frame_ix ORDER BY i) AS pv
           FROM s)
         SELECT doc_id, frame_ix,
                CAST(count(*) AS INT) AS n_samples,
                CAST(sum(v * v) AS BIGINT) AS sum_sq,
                CAST(count(*) FILTER (WHERE pv IS NOT NULL AND pv * v < 0)
                     AS INT) AS zero_cross,
                CAST(max(abs(v)) AS INT) AS max_abs
         FROM fr GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- Scene-cut statistics: adjacent-frame summed absolute RGB
    //     difference over animated fixture GIFs with a PLANTED cut (+97
    //     index jump at frame 2+id%3, +5 drift inside scenes). Working
    //     state is two frame rasters regardless of clip length. The
    //     oracle replays both frames' closed forms pixel-for-pixel. ---
    Op("q_multimodal_scenecut", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, Multimodal.gifSceneFixture)
          graft.llm.Multimodal.sceneDiffFrames(withPayload, "payload")
            .select(F.col("doc_id"), F.explode(F.col("scenes")).as("sc"))
            .select(F.col("doc_id"), F.col("sc.frame_ix").as("frame_ix"),
              F.col("sc.n_px").as("n_px"), F.col("sc.diff_sum").as("diff_sum"))
        }
        .sort(col("doc_id")).sort(col("frame_ix"))
        .run(s),
      // Replays gifSceneFixture's closed form on BOTH sides of every
      // adjacent frame pair: index (11x+17y+3·id+5f+97·[f≥cut]) mod 256
      // through the palette ramp, summed |Δ| over pixels and channels —
      // matching requires two byte-exact LZW rasters per pair.
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 7 AS h,
                  5 + doc_id % 3 AS nf, 2 + doc_id % 3 AS cut
           FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id, f.f, d.w, d.h,
                  abs(((((11 * x.x + 17 * y.y + 3 * d.doc_id + 5 * f.f
                          + CASE WHEN f.f >= d.cut THEN 97 ELSE 0 END) % 256)
                        * (c.c + 1)) % 256)
                    - ((((11 * x.x + 17 * y.y + 3 * d.doc_id + 5 * (f.f - 1)
                          + CASE WHEN f.f - 1 >= d.cut THEN 97 ELSE 0 END) % 256)
                        * (c.c + 1)) % 256)) AS dv
           FROM d
           CROSS JOIN range(1, 7) f(f)
           CROSS JOIN range(0, 12) x(x)
           CROSS JOIN range(0, 12) y(y)
           CROSS JOIN range(0, 3) c(c)
           WHERE x.x < d.w AND y.y < d.h AND f.f < d.nf)
         SELECT doc_id, CAST(f AS INT) AS frame_ix,
                CAST(w * h AS BIGINT) AS n_px,
                CAST(sum(dv) AS BIGINT) AS diff_sum
         FROM px GROUP BY 1, 2, w, h ORDER BY 1, 2"""),

    // --- Full baseline-JPEG pixel decode (Huffman entropy decode + IDCT,
    //     pure JDK): stats over block-CONSTANT grayscale fixtures encoded
    //     with all-ones quantization, which makes the lossy format
    //     losslessly checkable (DC-only blocks survive the DCT round-trip
    //     bit-exactly). The oracle replays the per-block closed form;
    //     only a correct Huffman + bitstream + IDCT decode of the real
    //     compressed scan reproduces it. ---
    Op("q_multimodal_jpeg", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, graft.llm.Jpeg.fixture)
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"),
              F.lit(0).cast("int").as("channel"), F.col("px.n_px").as("n_px"),
              F.element_at(F.col("px.sums"), 1).as("sum_v"),
              F.element_at(F.col("px.mins"), 1).as("min_v"),
              F.element_at(F.col("px.maxs"), 1).as("max_v"))
        }
        .sort(col("doc_id"))
        .run(s),
      // Replays Jpeg.fixture's closed form: block-constant value
      // ((5·⌊x/8⌋ + 9·⌊y/8⌋ + 7·id) mod 200) + 28 over the non-8-aligned
      // w×h crop — matching requires a correct baseline JPEG entropy
      // decode (all-ones quantization makes the DCT round-trip exact).
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 12),
         px AS (
           SELECT d.doc_id,
                  ((5 * (x.x // 8) + 9 * (y.y // 8) + 7 * d.doc_id) % 200) + 28 AS v
           FROM d
           CROSS JOIN range(0, 32) x(x)
           CROSS JOIN range(0, 24) y(y)
           WHERE x.x < 8 * (2 + d.doc_id % 3) - (d.doc_id % 5)
             AND y.y < 8 * (2 + d.doc_id % 2) - (d.doc_id % 3))
         SELECT doc_id, CAST(0 AS INT) AS channel,
                CAST(count(*) AS BIGINT) AS n_px,
                CAST(sum(v) AS BIGINT) AS sum_v,
                CAST(min(v) AS BIGINT) AS min_v,
                CAST(max(v) AS BIGINT) AS max_v
         FROM px GROUP BY 1, 2 ORDER BY 1"""),

    // --- PROGRESSIVE JPEG decode (SOF2: spectral selection + successive
    //     approximation, DC first/refine + pooled AC EOB runs): same
    //     block-constant closed form as q_multimodal_jpeg but the
    //     bitstream is genuinely progressive, so only a correct
    //     multi-scan coefficient-accumulation decode reproduces it —
    //     the oracle is shared by reference ---
    Op("q_multimodal_jpeg_prog", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 12, graft.llm.Jpeg.fixtureProgressive)
          graft.llm.Multimodal.decodePixels(withPayload, "payload")
            .select(F.col("doc_id"),
              F.lit(0).cast("int").as("channel"), F.col("px.n_px").as("n_px"),
              F.element_at(F.col("px.sums"), 1).as("sum_v"),
              F.element_at(F.col("px.mins"), 1).as("min_v"),
              F.element_at(F.col("px.maxs"), 1).as("max_v"))
        }
        .sort(col("doc_id"))
        .run(s),
      Op.oracleOf("q_multimodal_jpeg")),

    // --- perceptual IMAGE near-dup pairs (dHash 9×8 integer box grid →
    //     byte-band blocking, exact for hamming ≤ 7 → inline popcount
    //     verify): 24 fixture JPEGs in 8 dim-groups of 3, jittered +0/1/2
    //     in one block — the oracle replays the hash bit-for-bit from the
    //     pixel closed form and re-derives the same pairs ---
    Op("q_image_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupJpeg))
          graft.llm.Multimodal.imageNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // dHash replay: 72×64 makes box = block, so bits compare the CLOSED
      // FORM block values directly (the cross-multiplied box-sum compare
      // degenerates to v_l > v_r under equal counts); byte bands,
      // popcount hamming — all exact integers.
      (s"""WITH $ImageDhashCtes,
         $CappedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- CORPUS-scale perceptual image dedup (the ScaleCheck target):
    //     one 72×64 closed-form JPEG per document — pattern family
    //     (doc_id/3) % 97 (97 is the wrapping modulus of the value form,
    //     so families genuinely repeat at corpus scale, piling identical
    //     hashes into the fixed 256-value byte buckets — exactly the
    //     growth the maxPerBucketSide cap exists to bound), corner jitter
    //     doc_id % 3. The oracle replays hash, cap, and pairs from the
    //     block closed form. ---
    Op("q_image_neardup_corpus", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          // memoized PAYLOAD fixture: a real crawl's image bytes live in
          // storage — synthesizing (JPEG-encoding) the corpus is fixture
          // construction, so it is built once per data dir and the timed
          // body is the op itself (scan + decode + hash + capped join).
          // The repartition before the encode buys full parallelism for
          // the one-time build AND a multi-file scan afterwards.
          val payloadDir = Fixtures.dir("imgcorpus", dir) { p =>
            val ids = df.select(F.col("doc_id")).repartition(F.col("doc_id"))
            Multimodal.payloadCorpus(ids,
              id => Multimodal.groupJpeg(((id / 3) % 97).toInt, (id % 3).toInt))
              .write.parquet(p)
          }
          graft.llm.Multimodal.imageNearDupPairs(
            graft.sources.ParquetIO.read(s, payloadDir), "doc_id", "payload",
            maxHamming = 6, maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // corpus-scale twin: same closed form over EVERY doc_id — pattern
      // family (doc_id // 3) % 97, jitter doc_id % 3, same capped tail.
      (s"""WITH ${imageDhashCtes(
        """SELECT doc_id AS id, (doc_id // 3) % 97 AS g, doc_id % 3 AS j
           FROM main.documents""")},
         $CappedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- image near-dup CLUSTERS: the capped perceptual pair detector
    //     composed with the SAME iterative min-label closure every text
    //     dedup family uses (clusterPairs is modality-agnostic — zero
    //     new clustering code), giving per-image canonical keepers ---
    Op("q_image_dedup_clusters", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupJpeg))
          val pairs = graft.llm.Multimodal.imageNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
          graft.llm.Dedup.clusterPairs(pairs, "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s),
      // image pair replay + the SAME recursive closure every text-dedup
      // cluster oracle uses: pairs feed nodes/edges/reach/clusters.
      (s"""WITH RECURSIVE $ImageDhashCtes,
         $CappedCandCtes
         $HammingCtes,
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1""")),

    // --- INCREMENTAL perceptual image dedup against a PERSISTED dHash
    //     index (the batch job streamingImageDedup's scaladoc promises):
    //     fixtures 8..23 are indexed once (band postings bucketed on
    //     __bkey__ — that shuffle is paid at ingest; build-time cap 2
    //     bounds every future query), then the "new crawl" slice 0..7
    //     hashes only itself and joins the saved table. The oracle
    //     replays hash, index cap, and pairs from the block closed
    //     form. ---
    Op("q_image_neardup_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupJpeg))
          val tbl = Fixtures.index(s, "dhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.dhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.imageNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // incremental twin: index side = ids 8..23 with the BUILD-time cap
      // (row_number per bucket over index rows only), new side = ids 0..7
      // uncapped; pairs = new × index band candidates, popcount verify.
      (s"""WITH $ImageDhashCtes,
         $IndexedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- STREAMING near-dup gate backfill: the stream-static band join
    //     + per-image dedupe state, run over the new slice as one batch
    //     against the same persisted capped index — values must equal
    //     the batch indexed join (shared oracle by reference) ---
    Op("q_stream_image_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupJpeg))
          val tbl = Fixtures.index(s, "dhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.dhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingImageNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // streaming near-dup gate, single-batch backfill: the stream-static
      // join + per-image dedupe state equals the batch indexed join —
      // same pairs, same oracle
      Op.oracleOf("q_image_neardup_incr")),

    // --- perceptual VIDEO near-dup pairs (per-sampled-frame dHash over
    //     animated-GIF palette-index rasters, per-frame byte-band
    //     blocking, clips pair iff every aligned sampled frame is within
    //     the threshold): 24 fixture clips in 8 groups of 3 with
    //     group-dependent frame counts and a per-frame closed form — the
    //     oracle replays frames, hashes, cap, alignment, and pairs ---
    Op("q_video_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24,
            grouped((g, j) => Multimodal.groupGif(g, j, 4 + g % 3)))
          graft.llm.Multimodal.videoNearDupPairs(
            withPayload, "doc_id", "payload", every = 2, maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // video dHash replay: sampled frames from the closed form (nf = 4 +
      // g%3, every 2nd frame), per-frame block-value hash bytes, the
      // capped per-frame band join, and the all-aligned-frames rule.
      videoNearDupSql(
      """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                4 + (doc_id % 8 % 3) AS nf
         FROM documents WHERE doc_id < 24""", maxNf = 6)),

    // --- CORPUS-scale video near-dup: one clip per document with a
    //     WRAPPING family modulus ((doc_id/3) % 97 — families genuinely
    //     repeat as the corpus grows, piling identical per-frame hashes
    //     into the byte buckets: the worst case for the band join, by
    //     construction) — the growing-n ScaleCheck driver for the video
    //     family, same cap and pairing rule as q_video_neardup ---
    Op("q_video_neardup_corpus", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          // memoized payload fixture (the q_image_neardup_corpus
          // rationale): GIF-encoding the corpus is one-time fixture
          // construction; the timed body is scan + frame decode + hash +
          // the capped per-frame join
          val payloadDir = Fixtures.dir("vidcorpus", dir) { p =>
            val ids = df.select(F.col("doc_id")).repartition(F.col("doc_id"))
            Multimodal.payloadCorpus(ids,
              id => Multimodal.groupGif(((id / 3) % 97).toInt, (id % 3).toInt, 4))
              .write.parquet(p)
          }
          graft.llm.Multimodal.videoNearDupPairs(
            graft.sources.ParquetIO.read(s, payloadDir), "doc_id", "payload",
            every = 2, maxHamming = 6, maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // corpus-scale video replay: ONE clip per document, wrapping family
      // modulus (families genuinely repeat at corpus scale — the worst
      // case for the per-frame band buckets, by construction), nf = 4.
      videoNearDupSql(
      """SELECT doc_id AS id, (doc_id // 3) % 97 AS g, doc_id % 3 AS j,
                4 AS nf
         FROM main.documents""", maxNf = 4)),

    // --- video near-dup CLUSTERS: the capped per-frame pair detector
    //     composed with the shared min-label closure ---
    Op("q_video_dedup_clusters", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24,
            grouped((g, j) => Multimodal.groupGif(g, j, 4 + g % 3)))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.videoNearDupPairs(
              withPayload, "doc_id", "payload", every = 2, maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s),
      // video pair replay + the shared recursive closure
      (s"""WITH RECURSIVE ${videoPairCtes(
        """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  4 + (doc_id % 8 % 3) AS nf
           FROM documents WHERE doc_id < 24""", maxNf = 6)},
         pairs AS (SELECT a_id AS doc_a, b_id AS doc_b FROM vpairs)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1""")),

    // --- INCREMENTAL video near-dup against a PERSISTED per-frame dHash
    //     index: clips 8..23 are indexed once (postings keyed
    //     "<frame>:<band>:<value>", build-time cap 2, bucketed on the
    //     key — ingest pays the shuffle), then the "new crawl" 0..7
    //     hashes only itself and joins the saved table with the
    //     all-aligned-frames pairing rule ---
    Op("q_video_neardup_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24,
            grouped((g, j) => Multimodal.groupGif(g, j, 4 + g % 3)))
          val tbl = Fixtures.index(s, "vhash_e2cap2", dir, "__bkey__") {
            graft.llm.Multimodal.videoDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              every = 2, maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.videoNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), every = 2, maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // incremental twin: index postings = ids 8..23 with the BUILD-time
      // per-(frame, band, value) cap, new slice = ids 0..7 uncapped, then
      // the same aligned-frame popcount + all-frames pairing tail.
      (s"""WITH ${videoDhashCtes(
        """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  4 + (doc_id % 8 % 3) AS nf
           FROM documents WHERE doc_id < 24""", maxNf = 6)},
         vidx AS (
           SELECT id, f, byy, bv
           FROM (SELECT id, f, byy, bv,
                        row_number() OVER (PARTITION BY f, byy, bv
                                           ORDER BY id) AS br
                 FROM vbytes WHERE id >= 8)
           WHERE br <= 2),
         vcand AS (
           SELECT DISTINCT n.id AS a_id, x.id AS b_id, n.f
           FROM vbytes n JOIN vidx x
             ON x.f = n.f AND x.byy = n.byy AND x.bv = n.bv
           WHERE n.id < 8),
         vham AS (
           SELECT c.a_id, c.b_id, c.f,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS ham
           FROM vcand c
           JOIN vbytes x ON x.id = c.a_id AND x.f = c.f
           JOIN vbytes y ON y.id = c.b_id AND y.f = c.f AND y.byy = x.byy
           GROUP BY 1, 2, 3),
         vok AS (SELECT a_id, b_id, f, ham FROM vham WHERE ham <= 6),
         vagg AS (
           SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS m,
                  max(ham) AS max_hamming
           FROM vok GROUP BY 1, 2)
         SELECT g.a_id, g.b_id, g.max_hamming
         FROM vagg g
         JOIN vnfall na ON na.id = g.a_id
         JOIN vnfall nb ON nb.id = g.b_id
         WHERE g.m = na.nf AND na.nf = nb.nf
         ORDER BY a_id, b_id""")),

    // --- STREAMING video near-dup gate backfill: the stream-static
    //     per-frame band join + per-clip all-aligned-frames state, run
    //     over the new slice as one batch against the same persisted
    //     capped index — values must equal the batch indexed join
    //     (shared oracle by reference) ---
    Op("q_stream_video_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24,
            grouped((g, j) => Multimodal.groupGif(g, j, 4 + g % 3)))
          val tbl = Fixtures.index(s, "vhash_e2cap2", dir, "__bkey__") {
            graft.llm.Multimodal.videoDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              every = 2, maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingVideoNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), every = 2, maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("max_hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // streaming video gate backfill ≡ the batch indexed video join
      Op.oracleOf("q_video_neardup_incr")),

    // --- perceptual AUDIO near-dup pairs (energy-delta dHash over 65
    //     PCM boxes → the same exact byte-band Hamming blocking): 24
    //     WAV fixtures in 8 closed-form groups of 3, level-jittered in
    //     the first samples — the oracle replays energies and bits from
    //     the sample closed form ---
    Op("q_audio_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupWav))
          graft.llm.Multimodal.audioNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // audio dHash replay from the sample closed form: 65 floor-boundary
      // energy boxes, HUGEINT cross-multiplied bits, 8 bytes, the shared
      // band-candidate + popcount tail.
      (s"""WITH $AudioDhashCtes,
         $CappedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- SPECTRAL image near-dup pairs: 24 grayscale PNGs in 8 groups
    //     of 3 — j=1 is a 2× pixel-repeat UPSCALE with +3 brightness,
    //     j=2 a 2× contrast with −5 brightness — re-encodes that hash
    //     IDENTICALLY under the global-tap-grid spectral transform
    //     while the box-mean dHash diverges on the upscale (floor box
    //     boundaries don't commute; spec-pinned). Oracle replays the
    //     pixel closed form at the tap coordinates, the embedded
    //     integer DFT tables, energies, bits, and the capped band
    //     join. ---
    Op("q_image_spectral_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralPng))
          graft.llm.Multimodal.imageSpectralNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      (s"""WITH $ImageSpectralCtes,
         $CappedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- STREAMING spectral image gate backfill: the new slice streams
    //     against the same persisted capped spectral index — values must
    //     equal the batch indexed join (shared oracle by reference) ---
    Op("q_stream_image_spectral", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralPng))
          val tbl = Fixtures.index(s, "isphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.imageSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingImageSpectralNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // streaming spectral image gate backfill ≡ the batch indexed join
      Op.oracleOf("q_image_spectral_incr")),

    // --- INCREMENTAL spectral image near-dup: index = spectral postings
    //     of ids 8..23 (cap 2), new = ids 0..7 — the re-encode-robust
    //     image index twin ---
    Op("q_image_spectral_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralPng))
          val tbl = Fixtures.index(s, "isphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.imageSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.imageSpectralNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // image spectral incremental twin: same new x capped-index
      // candidate + popcount tail over the IMAGE spectral closed-form bytes
      (s"""WITH $ImageSpectralCtes,
         $IndexedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- SPECTRAL audio near-dup pairs (8 odd-band fixed-point DFT over
    //     64 evenly-subsampled taps × 9 time boxes): the fixture's three
    //     per-group variants are RE-ENCODES — j=1 is a 2× sample-repeat
    //     upsample with a +3 DC shift, j=2 a 2× gain with a −5 DC shift —
    //     that hash IDENTICALLY under the spectral transform (taps are
    //     exactly repeat-invariant, zero-sum tables cancel DC exactly,
    //     energies scale by a²) while the raw energy-delta hash diverges
    //     (spec-pinned). Oracle replays taps, the embedded integer DFT
    //     tables, energies, bits and the capped band join. ---
    Op("q_audio_neardup_spectral", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralWav))
          graft.llm.Multimodal.audioSpectralNearDupPairs(
            withPayload, "doc_id", "payload", maxHamming = 6,
            maxPerBucketSide = 2)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      (s"""WITH $AudioSpectralCtes,
         $CappedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- SPECTRAL audio near-dup CLUSTERS: the closure over the
    //     re-encode-robust pair detector — each cluster IS a re-encode
    //     family (base + upsample+DC + gain+DC hash identically) ---
    Op("q_audio_spectral_clusters", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralWav))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.audioSpectralNearDupPairs(
              withPayload, "doc_id", "payload", maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s),
      // spectral clusters: the capped band join + popcount tail over the
      // SPECTRAL closed-form bytes, closed transitively
      (s"""WITH RECURSIVE $AudioSpectralCtes,
         $CappedCandCtes
         $HammingCtes,
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1""")),

    // --- audio near-dup CLUSTERS: same composition over the
    //     energy-delta pair detector ---
    Op("q_audio_dedup_clusters", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupWav))
          graft.llm.Dedup.clusterPairs(
            graft.llm.Multimodal.audioNearDupPairs(
              withPayload, "doc_id", "payload", maxHamming = 6,
              maxPerBucketSide = 2),
            "a_id", "b_id")
        }
        .sort(col("doc_id"))
        .run(s),
      // audio pair replay + the shared recursive closure
      (s"""WITH RECURSIVE $AudioDhashCtes,
         $CappedCandCtes
         $HammingCtes,
         pairs AS (
           SELECT a_id AS doc_a, b_id AS doc_b FROM ham WHERE hamming <= 6)""" +
        ClosureCtes +
        """SELECT doc_id, cluster_id FROM clusters ORDER BY 1""")),

    // --- INCREMENTAL audio near-dup against a persisted energy-delta
    //     hash index — the audio twin of q_image_neardup_incr (same
    //     bucketed band-posting contract, same build-time cap) ---
    Op("q_audio_neardup_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupWav))
          val tbl = Fixtures.index(s, "adhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.audioNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // audio incremental twin: index = ids 8..23 with the build-time cap,
      // new = ids 0..7, same new x index candidate + popcount tail as
      // q_image_neardup_incr over the audio closed-form bytes.
      (s"""WITH $AudioDhashCtes,
         $IndexedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- INCREMENTAL spectral audio near-dup: the re-encode-robust
    //     index twin — index = spectral postings of ids 8..23 (cap 2),
    //     new = ids 0..7; a gain/DC/upsample re-encode of an indexed
    //     clip collides at hamming 0 where the energy index misses ---
    Op("q_audio_spectral_incr", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.spectralWav))
          val tbl = Fixtures.index(s, "sphash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioSpectralIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.llm.Multimodal.audioSpectralNearDupJoinIndexed(
            withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
            df.sparkSession.table(tbl), maxHamming = 6)
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // spectral incremental twin: same new x capped-index candidate +
      // popcount tail over the SPECTRAL closed-form bytes
      (s"""WITH $AudioSpectralCtes,
         $IndexedCandCtes
         $HammingCtes
         SELECT a_id, b_id, hamming FROM ham
         WHERE hamming <= 6 ORDER BY a_id, b_id""")),

    // --- STREAMING audio near-dup gate backfill: the shared
    //     stream-static band join + keyed dedupe over the energy-delta
    //     hash, one batch against the persisted capped index — values
    //     must equal the batch indexed join (shared oracle) ---
    Op("q_stream_audio_neardup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupWav))
          val tbl = Fixtures.index(s, "adhash_cap2", dir, "__bkey__") {
            graft.llm.Multimodal.audioDhashIndex(
              withPayload.where(F.col("doc_id") >= 8), "doc_id", "payload",
              maxPerBucketSide = 2)
          }
          graft.streaming.Streams.streamingAudioNearDup(
              withPayload.where(F.col("doc_id") < 8), "doc_id", "payload",
              df.sparkSession.table(tbl), maxHamming = 6)
            .select(F.col("doc_id").as("a_id"), F.col("b_id"),
              F.col("hamming"))
        }
        .sort(col("a_id")).sort(col("b_id"))
        .run(s),
      // streaming audio gate backfill ≡ the batch indexed audio join
      Op.oracleOf("q_audio_neardup_incr")),

    // --- STREAMING image-dedup backfill: first-seen-wins per dHash in
    //     keyed state (min-id winner within a batch), run over the same
    //     24 fixtures as one batch — the kept set must equal the batch
    //     min-per-hash rule, replayed by the closed-form oracle ---
    Op("q_stream_image_dedup", (s, dir) =>
      m(dir, "documents")
        .native { df =>
          val withPayload = payloads(df, 24, grouped(Multimodal.groupJpeg))
          graft.streaming.Streams
            .streamingImageDedup(withPayload, "doc_id", "payload")
            .select(F.col("doc_id"),
              F.expr("array_join(transform(dhash, x -> cast(x AS string)), ':')")
                .as("hash_key"))
        }
        .sort(col("doc_id"))
        .run(s),
      // streaming image-dedup backfill: min doc_id per full dHash key
      // over the same closed-form bytes.
      (s"""WITH $ImageDhashCtes,
         keys AS (
           SELECT id, string_agg(CAST(bv AS VARCHAR), ':' ORDER BY byy)
                    AS hash_key
           FROM bytes GROUP BY 1)
         SELECT min(id) AS doc_id, hash_key
         FROM keys GROUP BY hash_key ORDER BY doc_id""")),
  )

  /** [[CappedCandCtes]]'s incremental twin: the index side (ids 8..23)
    * keeps its 2 lowest ids per bucket at build time, the new side (ids
    * 0..7) is uncapped, and candidates are new × index pairs sharing a
    * bucket. */
  private val IndexedCandCtes: String =
    """idx AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes WHERE id >= 8)
           WHERE br <= 2),
         neu AS (SELECT id, byy, bv FROM bytes WHERE id < 8),
         cand AS (
           SELECT DISTINCT n.id AS a_id, i.id AS b_id
           FROM neu n JOIN idx i ON n.byy = i.byy AND n.bv = i.bv),"""

  /** The capped band join of the near-dup oracles, after a CTE chain
    * ending in `bytes(id, byy, bv)`: each (band, byte value) bucket keeps
    * its 2 lowest ids (maxPerBucketSide = 2), and candidate pairs share a
    * kept bucket. */
  private val CappedCandCtes: String =
    """capped AS (
           SELECT id, byy, bv
           FROM (SELECT id, byy, bv,
                        row_number() OVER (PARTITION BY byy, bv ORDER BY id)
                          AS br
                 FROM bytes)
           WHERE br <= 2),
         cand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id
           FROM capped a JOIN capped b
             ON a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),"""

  /** Popcount Hamming distance of each `cand` pair over its per-band
    * hash bytes (`bytes`). */
  private val HammingCtes: String =
    """ham AS (
           SELECT c.a_id, c.b_id,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS hamming
           FROM cand c
           JOIN bytes x ON x.id = c.a_id
           JOIN bytes y ON y.id = c.b_id AND y.byy = x.byy
           GROUP BY 1, 2)"""

  /** Shared image-dHash replay CTEs (q_image_neardup /
    * q_stream_image_dedup): the 24 closed-form fixtures reduce to
    * per-(id, row) hash bytes — box = block at 72×64, so bits compare
    * block values directly. */
  private val ImageDhashCtes: String = imageDhashCtes(
    """SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j
           FROM documents WHERE doc_id < 24""")

  /** GENERATED video near-dup oracle: the clip population comes in as
    * `iiSql` (columns id, g, j, nf — pattern family, corner jitter,
    * frame count), frames sample every 2nd index below nf (bounded by
    * `maxNf`), each sampled frame replays the 9×8 block closed form into
    * 8 hash bytes, then the capped per-(frame, band, value) self-join,
    * per-frame popcount, and the all-aligned-frames pairing rule —
    * exactly [[graft.llm.Multimodal.videoNearDupPairs]] with
    * every = 2, maxHamming = 6, maxPerBucketSide = 2. */
  private def videoNearDupSql(iiSql: String, maxNf: Int): String =
    s"""WITH ${videoPairCtes(iiSql, maxNf)}
         SELECT a_id, b_id, max_hamming FROM vpairs
         ORDER BY a_id, b_id"""

  /** The full video pair-detection CTE chain through `vpairs`
    * (a_id, b_id, max_hamming) — shared by the pair query and the
    * cluster closure. */
  private def videoPairCtes(iiSql: String, maxNf: Int): String =
    s"""${videoDhashCtes(iiSql, maxNf)},
         vcapped AS (
           SELECT id, f, byy, bv
           FROM (SELECT id, f, byy, bv,
                        row_number() OVER (PARTITION BY f, byy, bv
                                           ORDER BY id) AS br
                 FROM vbytes)
           WHERE br <= 2),
         vcand AS (
           SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.f
           FROM vcapped a JOIN vcapped b
             ON a.f = b.f AND a.byy = b.byy AND a.bv = b.bv AND a.id < b.id),
         vham AS (
           SELECT c.a_id, c.b_id, c.f,
                  CAST(sum(bit_count(xor(x.bv, y.bv))) AS BIGINT) AS ham
           FROM vcand c
           JOIN vbytes x ON x.id = c.a_id AND x.f = c.f
           JOIN vbytes y ON y.id = c.b_id AND y.f = c.f AND y.byy = x.byy
           GROUP BY 1, 2, 3),
         vok AS (SELECT a_id, b_id, f, ham FROM vham WHERE ham <= 6),
         vagg AS (
           SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS m,
                  max(ham) AS max_hamming
           FROM vok GROUP BY 1, 2),
         vpairs AS (
           SELECT g.a_id, g.b_id, g.max_hamming
           FROM vagg g
           JOIN vnfall na ON na.id = g.a_id
           JOIN vnfall nb ON nb.id = g.b_id
           WHERE g.m = na.nf AND na.nf = nb.nf)"""

  /** The shared video-hash CTE prefix (vii → per-frame hash bytes +
    * per-clip sampled-frame counts): `iiSql` supplies (id, g, j, nf),
    * frames sample every 2nd index below nf (≤ `maxNf`), each sampled
    * frame replays the 9×8 block closed form into 8 bytes (`vbytes`),
    * `vnf` counts sampled frames per clip. */
  private def videoDhashCtes(iiSql: String, maxNf: Int): String =
    s"""vii AS ($iiSql),
         vfr AS (
           SELECT i.id, i.g, i.j, f.f
           FROM vii i CROSS JOIN range(0, $maxNf) f(f)
           WHERE f.f < i.nf AND f.f % 2 = 0),
         vvals AS MATERIALIZED (
           SELECT r.id, r.f, bx.bx, byy.byy,
                  (((37 + 11 * r.g) * bx.bx + (23 + 7 * r.g) * byy.byy
                    + 29 * r.f + 13 * r.g) % 97)
                    + CASE WHEN bx.bx = 0 AND byy.byy = 0 THEN r.j
                           ELSE 0 END AS v
           FROM vfr r
           CROSS JOIN range(0, 9) bx(bx)
           CROSS JOIN range(0, 8) byy(byy)),
         vbits AS (
           SELECT l.id, l.f, l.byy, l.bx,
                  CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
           FROM vvals l
           JOIN vvals r ON r.id = l.id AND r.f = l.f AND r.byy = l.byy
             AND r.bx = l.bx + 1
           WHERE l.bx < 8),
         vbytes AS MATERIALIZED (
           SELECT id, f, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM vbits GROUP BY 1, 2, 3),
         vnfall AS (
           SELECT id, CAST(count(*) AS BIGINT) AS nf
           FROM (SELECT DISTINCT id, f FROM vbytes) GROUP BY 1)"""

  /** Shared audio-dHash replay CTEs (q_audio_neardup[_incr]): the 24
    * closed-form WAV fixtures reduce to per-(id, byte-row) hash bytes —
    * 65 floor-boundary energy boxes, HUGEINT cross-multiplied bits. */
  private val AudioDhashCtes: String =
    """ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  240 + (doc_id % 8 % 7) * 40 AS n
           FROM documents WHERE doc_id < 24),
         sg AS MATERIALIZED (
           SELECT i.id, i.n, s.i,
                  ((7 * i.g + 13 * s.i) % 2048) - 1024
                    + CASE WHEN s.i < 4 THEN i.j ELSE 0 END AS v
           FROM ii i CROSS JOIN range(0, 480) s(i)
           WHERE s.i < i.n),
         ab AS MATERIALIZED (
           SELECT g.id, b.b,
                  CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e,
                  CAST(count(*) AS BIGINT) AS c
           FROM sg g CROSS JOIN range(0, 65) b(b)
           WHERE g.i >= (b.b * g.n) // 65 AND g.i < ((b.b + 1) * g.n) // 65
           GROUP BY 1, 2),
         abits AS (
           SELECT l.id, l.b,
                  CASE WHEN CAST(l.e AS HUGEINT) * r.c
                            > CAST(r.e AS HUGEINT) * l.c
                       THEN 1 ELSE 0 END AS bit
           FROM ab l JOIN ab r ON r.id = l.id AND r.b = l.b + 1
           WHERE l.b < 64),
         bytes AS MATERIALIZED (
           SELECT id, b // 8 AS byy,
                  CAST(sum(bit * (1 << (b % 8))) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""

  /** q_audio_neardup_spectral replay: the 24-clip fixture's three
    * per-group re-encode variants in closed form (j=1 2×-repeat
    * upsample +3 DC, j=2 2× gain −5 DC), 9 time boxes × 64
    * evenly-spaced taps computed DIRECTLY from the sample closed form
    * (no materialized waveform), the integer DFT tables embedded as
    * VALUES literals RENDERED FROM the Spark side's own
    * [[graft.llm.Multimodal.SpectralCos]]/[[graft.llm.Multimodal.SpectralSin]]
    * arrays (single source of truth — no cross-engine cos rounding
    * anywhere), band energies cs²+sn² in BIGINT, temporal-delta bits,
    * and the same capped band-join tail as the energy-delta oracle. */
  private lazy val AudioSpectralCtes: String = {
    val cosT = graft.llm.Multimodal.SpectralCos
    val sinT = graft.llm.Multimodal.SpectralSin
    val values = (for (b <- 0 until 8; p <- 0 until 64)
      yield s"($b,$p,${cosT(b)(p)},${sinT(b)(p)})").mkString(",")
    s"""ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  240 + (doc_id % 8 % 7) * 40 AS n0
           FROM documents WHERE doc_id < 24),
         cl AS (
           SELECT id, g, j, n0,
                  CASE WHEN j = 1 THEN 2 * n0 ELSE n0 END AS nn
           FROM ii),
         taps AS (
           SELECT c.id, c.g, c.j, t.t, p.p,
                  ((64 * t.t + p.p) * c.nn) // 576 AS si
           FROM cl c CROSS JOIN range(0, 9) t(t) CROSS JOIN range(0, 64) p(p)),
         sv AS MATERIALIZED (
           SELECT id, t, p,
                  CASE j
                    WHEN 0 THEN ((7 * g + 13 * si) % 2048) - 1024
                    WHEN 1 THEN ((7 * g + 13 * (si // 2)) % 2048) - 1024 + 3
                    ELSE 2 * (((7 * g + 13 * si) % 2048) - 1024) - 5
                  END AS v
           FROM taps),
         tbl AS (SELECT * FROM (VALUES $values) AS t(band, p, ct, st)),
         eng AS MATERIALIZED (
           SELECT s.id, s.t, tb.band,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.ct) AS BIGINT) AS cs,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.st) AS BIGINT) AS sn
           FROM sv s JOIN tbl tb ON tb.p = s.p
           GROUP BY 1, 2, 3),
         en AS MATERIALIZED (
           SELECT id, t, band, cs * cs + sn * sn AS e FROM eng),
         abits AS (
           SELECT l.id, l.t AS byy, l.band AS bx,
                  CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
           FROM en l JOIN en r
             ON r.id = l.id AND r.band = l.band AND r.t = l.t + 1
           WHERE l.t < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""
  }

  /** q_image_spectral_neardup replay: per-variant raster dims and value
    * transforms in closed form (j=1 2×-repeat upscale +3 brightness,
    * j=2 2× contrast −5), tap values computed DIRECTLY from the pixel
    * closed form at the 9×64 global-grid coordinates (upscale taps map
    * back through x//2, y//2 — the commuting-floor identity the Spark
    * hash relies on), the same embedded integer DFT tables as
    * [[AudioSpectralCtes]], band energies, temporal-delta bits, and the
    * capped band-join tail. */
  private lazy val ImageSpectralCtes: String = {
    val cosT = graft.llm.Multimodal.SpectralCos
    val sinT = graft.llm.Multimodal.SpectralSin
    val values = (for (b <- 0 until 8; p <- 0 until 64)
      yield s"($b,$p,${cosT(b)(p)},${sinT(b)(p)})").mkString(",")
    s"""ii AS (
           SELECT doc_id AS id, doc_id % 8 AS g, doc_id // 8 AS j,
                  24 + (doc_id % 8 % 5) * 4 AS w0,
                  18 + (doc_id % 8 % 3) * 6 AS h0
           FROM documents WHERE doc_id < 24),
         cl AS (
           SELECT id, g, j, w0, h0,
                  CASE WHEN j = 1 THEN 2 * w0 ELSE w0 END AS ww,
                  CASE WHEN j = 1 THEN 2 * h0 ELSE h0 END AS hh
           FROM ii),
         taps AS (
           SELECT c.id, c.g, c.j, t.t, p.p,
                  (p.p * c.ww) // 64 AS x,
                  (t.t * c.hh) // 9 AS y
           FROM cl c CROSS JOIN range(0, 9) t(t) CROSS JOIN range(0, 64) p(p)),
         sv AS MATERIALIZED (
           SELECT id, t, p,
                  CASE j
                    WHEN 0 THEN (7 * x + 13 * y + 3 * g) % 97 + 20
                    WHEN 1 THEN (7 * (x // 2) + 13 * (y // 2) + 3 * g) % 97
                                + 20 + 3
                    ELSE 2 * ((7 * x + 13 * y + 3 * g) % 97 + 20) - 5
                  END AS v
           FROM taps),
         tbl AS (SELECT * FROM (VALUES $values) AS t(band, p, ct, st)),
         eng AS MATERIALIZED (
           SELECT s.id, s.t, tb.band,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.ct) AS BIGINT) AS cs,
                  CAST(sum(CAST(s.v AS BIGINT) * tb.st) AS BIGINT) AS sn
           FROM sv s JOIN tbl tb ON tb.p = s.p
           GROUP BY 1, 2, 3),
         en AS MATERIALIZED (
           SELECT id, t, band, cs * cs + sn * sn AS e FROM eng),
         abits AS (
           SELECT l.id, l.t AS byy, l.band AS bx,
                  CASE WHEN l.e > r.e THEN 1 ELSE 0 END AS bit
           FROM en l JOIN en r
             ON r.id = l.id AND r.band = l.band AND r.t = l.t + 1
           WHERE l.t < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM abits GROUP BY 1, 2)"""
  }

  /** [[ImageDhashCtes]] parameterized by the (id, g, j) generator — the
    * corpus-scale query uses the same closed form over ALL doc_ids. */
  private def imageDhashCtes(iiSql: String): String =
    s"""ii AS ($iiSql),
         vals AS MATERIALIZED (
           SELECT i.id, bx.bx, byy.byy,
                  (((37 + 11 * i.g) * bx.bx + (23 + 7 * i.g) * byy.byy
                    + 13 * i.g) % 97) + 28
                    + CASE WHEN bx.bx = 0 AND byy.byy = 0 THEN i.j
                           ELSE 0 END AS v
           FROM ii i
           CROSS JOIN range(0, 9) bx(bx)
           CROSS JOIN range(0, 8) byy(byy)),
         bits AS (
           SELECT l.id, l.byy, l.bx,
                  CASE WHEN l.v > r.v THEN 1 ELSE 0 END AS bit
           FROM vals l
           JOIN vals r ON r.id = l.id AND r.byy = l.byy AND r.bx = l.bx + 1
           WHERE l.bx < 8),
         bytes AS MATERIALIZED (
           SELECT id, byy, CAST(sum(bit * (1 << bx)) AS BIGINT) AS bv
           FROM bits GROUP BY 1, 2)"""

  /** Doc `id` of a 24-doc near-duplicate set: variant `id / 8` of group
    * `id % 8`. */
  private def grouped(fixture: (Int, Int) => Array[Byte])
      : Long => Array[Byte] =
    id => fixture((id % 8).toInt, (id / 8).toInt)

  /** The first `n` doc_ids with a `payload` column of `fixture(doc_id)`. */
  private def payloads(df: DataFrame, n: Int,
      fixture: Long => Array[Byte]): DataFrame = {
    Multimodal.payloadCorpus(
      df.where(F.col("doc_id") < n).select(F.col("doc_id")), fixture)
  }
}
