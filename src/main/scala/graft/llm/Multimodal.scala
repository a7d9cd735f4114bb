package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Multimodal column support (beyond-reference surface; SURVEY.md §2.7):
  * image/audio/video payloads are opaque `binary` columns with typed
  * metadata extracted by a per-partition decode.
  *
  * The decode is a REAL header parser for the dominant raster formats —
  * pure byte inspection, no codec libraries, so it runs anywhere:
  *   - PNG: 8-byte signature, then the mandatory IHDR first chunk;
  *     width/height are big-endian u32 at offsets 16/20.
  *   - JPEG: SOI then a marker walk past APPn/COM/DQT/DHT segments to the
  *     first SOF0/SOF1/SOF2 frame header; height/width are big-endian u16
  *     at +3/+5 into the segment payload.
  *   - GIF: "GIF87a"/"GIF89a" header; width/height are LITTLE-endian u16
  *     at offsets 6/8.
  *   - WAV: RIFF/WAVE container with a proper CHUNK WALK (not fixed
  *     offsets — fmt need not be first): channels/sample-rate/byte-rate
  *     from the fmt chunk, duration from the data chunk's byte count
  *     (capped at the bytes actually present, so truncated files report
  *     honest durations) divided by the byte rate.
  * Unrecognized payloads keep byte_len and the SHA-256 fingerprint real
  * and report format "unknown" with zero dims — honest, never fabricated.
  * The full pixel and sample decoders (PNG, [[Jpeg]], GIF, WAV) are pure
  * JDK too; every DataFrame op maps its payload column through one
  * narrow per-partition map ([[mapPayloads]]).
  */
object Multimodal {

  /** Typed metadata produced by decode. Image fields are zero for audio
    * payloads and vice versa (a flat struct keeps the column pruneable —
    * a tagged union would force reading every field to read one). */
  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("sha", StringType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
  ))

  private val PngSignature =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Parse real metadata from raw payload bytes (see object doc). */
  def decodeMeta(payload: Array[Byte]): Row = {
    val len = payload.length.toLong
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(payload).map("%02x".format(_)).mkString
    def u8(i: Int): Int = payload(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Long =
      (u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL
    def unknown: Row = Row("unknown", 0, 0, 0, len, sha, 0, 0, 0L)

    if (payload.length >= 24 &&
        payload.startsWith(PngSignature) &&
        u8(12) == 'I' && u8(13) == 'H' && u8(14) == 'D' && u8(15) == 'R') {
      // PNG: signature + IHDR (mandatory first chunk per spec)
      Row("png", be32(16), be32(20), 1, len, sha, 0, 0, 0L)
    } else if (payload.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG: walk the marker stream to the first frame header
      var i = 2
      var res: Row = null
      var corrupt = false
      while (res == null && !corrupt && i + 3 < payload.length) {
        if (u8(i) != 0xff) corrupt = true
        else {
          val marker = u8(i + 1)
          if (marker == 0xff) i += 1 // fill byte before a marker
          else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) {
            i += 2 // standalone marker (TEM / RSTn / SOI / EOI): no segment
          } else if (marker == 0xda) {
            corrupt = true // entropy-coded data reached without a SOF
          } else {
            val segLen = be16(i + 2)
            if (segLen < 2) corrupt = true
            else {
              if ((marker == 0xc0 || marker == 0xc1 || marker == 0xc2) &&
                  i + 8 < payload.length) {
                res = Row("jpeg", be16(i + 7), be16(i + 5), 1, len, sha, 0, 0, 0L)
              }
              i += 2 + segLen
            }
          }
        }
      }
      if (res != null) res else unknown
    } else if (payload.length >= 10 && isGif(payload)) {
      // n_frames is REAL: every complete image descriptor the block walk
      // reaches, whatever its palette or data (animated GIFs report their
      // frame count; a bare header reports 0)
      var frames = 0
      walkGif(payload) { _ => frames += 1; true }
      Row("gif", le16(6), le16(8), frames, len, sha, 0, 0, 0L)
    } else if (payload.length >= 36 && u8(0) == 'R' && u8(1) == 'I' &&
        u8(2) == 'F' && u8(3) == 'F' && u8(8) == 'W' && u8(9) == 'A' &&
        u8(10) == 'V' && u8(11) == 'E') {
      // WAV: walk RIFF chunks (word-aligned); fmt gives channels/rates,
      // data gives the sample byte count
      var i = 12
      var channels = 0
      var sampleRate = 0
      var byteRate = 0L
      var dataLen = -1L
      var stop = false
      while (!stop && i + 8 <= payload.length) {
        val id = new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val sz = le32(i + 4)
        if (id == "fmt " && i + 24 <= payload.length) {
          channels = le16(i + 10)
          sampleRate = le32(i + 12).toInt
          byteRate = le32(i + 16)
        } else if (id == "data") {
          // cap the header's claim at the bytes actually present, so a
          // truncated file reports the duration of what it really holds
          dataLen = math.min(sz, math.max(0L, (payload.length - i - 8).toLong))
        }
        if (sz > payload.length) stop = true // corrupt size: end the walk
        else i += 8 + sz.toInt + (sz.toInt & 1)
      }
      if (channels > 0 && sampleRate > 0) {
        val durMs =
          if (byteRate > 0 && dataLen >= 0) dataLen * 1000L / byteRate else 0L
        Row("wav", 0, 0, 0, len, sha, sampleRate, channels, durMs)
      } else unknown
    } else unknown
  }

  /** 64-bit DIFFERENCE HASH (dHash — the standard perceptual image
    * fingerprint behind every image-dedup pipeline): grayscale pixels
    * reduce to a 9×8 grid of integer box sums (floor-boundary boxes),
    * and bit (x, y) is set iff box (x, y) is brighter than box
    * (x+1, y). EXACT integer arithmetic end to end — the brightness
    * compare cross-multiplies sums against counts (avgL > avgR ⟺
    * sumL·cntR > sumR·cntL), so no division ever happens and a SQL
    * oracle replays the hash bit-for-bit from a pixel closed form.
    * Returned as 8 per-row bytes (array<int>), which doubles as the
    * blocking shape: hamming ≤ 7 guarantees at least one equal byte
    * (pigeonhole over 8 bands — the simhash byte-band trick, exact, not
    * probabilistic). Null for undecodable payloads or images smaller
    * than the 9×8 grid. JPEG (luma = the Y plane, no color convert);
    * other rasters plug in via the same decodeGray seam. */
  def dhashBytes(payload: Array[Byte]): Array[Int] = {
    val g = Jpeg.decodeGray(payload)
    if (g == null) return null
    val (w, h, px) = g
    dhashOfGray(w, h, px)
  }

  /** The dHash grid computation over ANY single-channel raster — shared
    * by the JPEG-gray path ([[dhashBytes]]) and the GIF-palette-index
    * path ([[videoFrameDhashes]]); null below the 9×8 grid. */
  private[graft] def dhashOfGray(w: Int, h: Int, px: Array[Int]): Array[Int] = {
    if (w < 9 || h < 8) return null
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var by = 0
    while (by < 8) {
      val y0 = by * h / 8
      val y1 = (by + 1) * h / 8
      var bx = 0
      while (bx < 9) {
        val x0 = bx * w / 9
        val x1 = (bx + 1) * w / 9
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += px(y * w + x); x += 1 }
          y += 1
        }
        sums(by)(bx) = s
        cnts(by)(bx) = (y1 - y0).toLong * (x1 - x0)
        bx += 1
      }
      by += 1
    }
    Array.tabulate(8) { r =>
      var b = 0
      var bx = 0
      while (bx < 8) {
        if (sums(r)(bx) * cnts(r)(bx + 1) > sums(r)(bx + 1) * cnts(r)(bx))
          b |= 1 << bx
        bx += 1
      }
      b
    }
  }

  /** dHash frame: (idCol, `dhash` array<int> of 8 band bytes). */
  def dhash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    hashFrame(df, idCol, payloadCol)(dhashBytes)

  /** The one payload mapper: `f` turns each row and its `payloadCol`
    * bytes into rows of `schema`, in one narrow mapPartitions — payloads
    * never leave their partition, only what `f` keeps of them does. */
  private def mapPayloads(df: DataFrame, payloadCol: String,
      schema: StructType)(f: (Row, Array[Byte]) => Iterator[Row]): DataFrame = {
    val payloadIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions(_.flatMap(row =>
      f(row, row.getAs[Array[Byte]](payloadIdx))))(Encoders.row(schema))
  }

  /** A hash frame: (idCol, `dhash` = `hash` of the payload, null when
    * the payload does not decode). */
  private def hashFrame(df: DataFrame, idCol: String, payloadCol: String)(
      hash: Array[Byte] => Array[Int]): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    mapPayloads(df, payloadCol, StructType(Seq(df.schema(idCol),
        StructField("dhash", ArrayType(IntegerType, containsNull = false))))) {
      (row, payload) => Iterator.single(Row(row.get(idIdx), hash(payload)))
    }
  }

  /** `df` plus one `field` column computed from each payload by `f`. */
  private def withPayloadColumn(df: DataFrame, payloadCol: String,
      field: StructField)(f: Array[Byte] => Any): DataFrame =
    mapPayloads(df, payloadCol, df.schema.add(field)) { (row, payload) =>
      Iterator.single(Row.fromSeq(row.toSeq :+ f(payload)))
    }

  /** Perceptual near-duplicate IMAGE pairs — the multimodal sibling of
    * the text dedup detectors: [[dhash]] every payload, block on the 8
    * byte bands (EXACT for hamming ≤ 7 by pigeonhole — candidates carry
    * both hash arrays, so verification is an inline popcount, no join
    * back), keep pairs with hamming ≤ `maxHamming`. Output
    * (a_id, b_id, hamming); scale shape = the simhashPairs band
    * equi-join, never all-pairs. */
  def imageNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(dhash(df, idCol, payloadCol), idCol, maxHamming, scope,
      maxPerBucketSide)

  /** The one perceptual band-row builder: each non-NULL 8-byte `dhash`
    * becomes 8 rows — the id as `id`, the `prefix` and `keep` columns,
    * and (`__band__`, `__bv__`). The band joins match (`prefix`…, band,
    * value), so the video `frame_ix` prefix only meets aligned frames. */
  private def hashBands(
      hashFrame: DataFrame, idCol: String, id: String, prefix: Seq[String],
      keep: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.functions._
    hashFrame.where(col("dhash").isNotNull)
      .select((col(idCol).as(id) +: prefix.map(col)) ++ keep :+
        posexplode(col("dhash")).as(Seq("__band__", "__bv__")): _*)
  }

  /** The lowest-id bucket cap over [[hashBands]] rows — THE QUADRATIC
    * GUARD (`maxPerBucketSide`): unlike the md5-wide MinHash/simhash band
    * keys, a dHash band value lives in a FIXED 256-value domain —
    * per-(band, value) population grows ∝ n/256 (worse on real corpora,
    * where near-constant regions pile into few byte values), so an
    * uncapped self-join is O(n²/256) at scale. The cap is the repo's
    * standard deterministic skew guard (bitext `maxPerBucketSide` /
    * MinHash `maxBucketSize`): each (`prefix`…, band, value) bucket keeps
    * only its `cap` lowest-`__id__` members — a documented recall
    * trade-off, row_number-replayable in a SQL oracle — bounding
    * candidates at 8·256·cap² regardless of corpus size. `persist` wraps
    * the capped frame (Spark does not share an uncached window subplan
    * between a self-join's sides); Int.MaxValue leaves the rows as is. */
  private def capBuckets(
      banded: DataFrame, prefix: Seq[String], cap: Int,
      persist: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cap >= 1, "maxPerBucketSide must be positive")
    if (cap == Int.MaxValue) banded
    else persist(banded
      .withColumn("__br__",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy((prefix :+ "__band__" :+ "__bv__").map(col): _*)
          .orderBy(col("__id__"))))
      .where(col("__br__") <= cap)
      .drop("__br__"))
  }

  /** Hamming distance of two hash arrays: popcount of the XOR, BIGINT. */
  private def hamming(a: String, b: String): Column =
    org.apache.spark.sql.functions.expr(s"""CAST(aggregate(zip_with($a, $b,
      (x, y) -> bit_count(x ^ y)), 0, (acc, v) -> acc + v) AS BIGINT)""")

  private def requireExact(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= 7,
      "byte-band blocking is exact only for hamming <= 7")

  /** The banded self-join of the single-hash and video pairs: capped
    * [[hashBands]] of the cached hash frame, sides `a` and `b` equi-joined
    * on the bucket with `a.__id__` < `b.__id__` (EXACT for hamming ≤ 7 by
    * pigeonhole), rows within `maxHamming` with the distance as
    * `__ham__` — one per shared band, so callers de-duplicate. */
  private def hammingSelfJoin(
      hashFrame: DataFrame, idCol: String, maxHamming: Int, scope: CacheScope,
      maxPerBucketSide: Int, prefix: Seq[String] = Nil,
      keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    requireExact(maxHamming)
    val banded = capBuckets(
      hashBands(scope.cache(hashFrame), idCol, "__id__", prefix,
        (keep :+ "dhash").map(col)),
      prefix, maxPerBucketSide, scope.cache)
    banded.as("a")
      .join(banded.as("b"),
        (prefix :+ "__band__" :+ "__bv__")
          .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.__id__") < col("b.__id__"))
      .withColumn("__ham__", hamming("a.dhash", "b.dhash"))
      .where(col("__ham__") <= maxHamming)
  }

  /** The near-dup pairs of every single-hash modality (image, audio,
    * spectral): distinct (a_id, b_id, hamming) of [[hammingSelfJoin]]. */
  private def bandedHammingPairs(
      hashFrame: DataFrame,
      idCol: String,
      maxHamming: Int,
      scope: CacheScope,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions._
    hammingSelfJoin(hashFrame, idCol, maxHamming, scope, maxPerBucketSide)
      .select(col("a.__id__").as("a_id"), col("b.__id__").as("b_id"),
        col("__ham__").as("hamming"))
      .distinct()
  }

  /** The band-posting index of a hash frame: [[hashBands]] with the full
    * hash as `__dhash__` and the `keep` columns, capped at build time by
    * [[capBuckets]], keyed by [[Dedup.bandKey]] over (`prefix`…, band,
    * value). Columns: (`__id__`, `__bkey__`, `__dhash__`, `keep`…). */
  private def hashIndexOf(
      hashFrame: DataFrame, idCol: String, maxPerBucketSide: Int,
      prefix: Seq[String] = Nil, keep: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    capBuckets(
        hashBands(hashFrame, idCol, "__id__", prefix,
          col("dhash").as("__dhash__") +: keep.map(col)),
        prefix, maxPerBucketSide)
      .select(Seq(col("__id__"),
        Dedup.bandKey(prefix :+ "__band__" :+ "__bv__": _*),
        col("__dhash__")) ++ keep.map(col): _*)
  }

  /** The candidate frame of an indexed near-dup join, batch or
    * streaming: the new items' [[hashBands]] (`__nid__`, `prefix`…,
    * `keep`…, `dhash`) keyed by [[Dedup.bandKey]], wrapped by `persist`,
    * joined to a [[hashIndexOf]] index on `__bkey__`, rows within
    * `maxHamming` of the posting's `__dhash__` with the distance as
    * `__ham__`. A pair colliding in several bands repeats: the batch
    * joins add a distinct, the streaming gates dedupe in keyed state. */
  private[graft] def hashIndexedCandidates(
      hashFrame: DataFrame, idCol: String, index: DataFrame, maxHamming: Int,
      prefix: Seq[String] = Nil, keep: Seq[String] = Nil,
      persist: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.functions._
    requireExact(maxHamming)
    persist(hashBands(hashFrame, idCol, "__nid__", prefix,
        (keep :+ "dhash").map(col))
      .select(col("__nid__") +: (prefix ++ keep :+ "dhash").map(col) :+
        Dedup.bandKey(prefix :+ "__band__" :+ "__bv__": _*): _*))
      .join(index, Seq("__bkey__"))
      .withColumn("__ham__", hamming("dhash", "__dhash__"))
      .where(col("__ham__") <= maxHamming)
  }

  /** Persistable dHash INDEX of an image corpus — the batch artifact
    * [[graft.streaming.Streams.streamingImageDedup]]'s scaladoc promises
    * near-dup pairing queries run against, mirroring
    * [[Dedup.minhashIndex]]: one row per band posting keyed by the
    * composite `__bkey__` = "<band>:<byte-value>" (equality on the
    * string ⟺ (band, value) equality — both parts are small ints and
    * ':' separates), with the FULL 8-byte hash DENORMALIZED onto the
    * posting so a query verifies candidates inline (popcount over the
    * two carried arrays — no join back to the corpus).
    *
    * `maxPerBucketSide` caps postings per bucket AT BUILD time (the
    * lowest-id rule of [[capBuckets]]): dHash band values live
    * in a FIXED 256-value domain, so uncapped bucket population — and
    * with it every future query's candidate count — grows ∝ n/256 with
    * the corpus. Capping at build bounds all downstream query cost once,
    * with no query-time window over the index.
    *
    * Persist with `ParquetIO.writeBucketed(index, table, path,
    * "__bkey__", buckets)`: the saved hash-on-join-key layout satisfies
    * the band join's required distribution, so queries plan ZERO
    * index-side exchanges (spec-pinned, the minhashIndex precedent).
    * Columns: (`__id__`, `__bkey__`, `__dhash__`). */
  def dhashIndex(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    hashIndexOf(dhash(df, idCol, payloadCol), idCol, maxPerBucketSide)

  /** [[dhashIndex]] for audio ([[audioDhash]] postings — same contract). */
  def audioDhashIndex(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    hashIndexOf(audioDhash(df, idCol, payloadCol), idCol, maxPerBucketSide)

  /** INCREMENTAL perceptual near-dup join: the new slice's images are
    * decoded + hashed, band-joined against a pre-built [[dhashIndex]]
    * (typically read back from its bucketed table — the index side is
    * scanned as stored, no hashing, no shuffle), and candidates verify
    * inline by popcount over the two carried hash arrays. Growing the
    * index does not grow the per-crawl shuffle; with a build-time-capped
    * index, candidate count per new image is bounded at 8·cap. Returns
    * (a_id = new id, b_id = index id, hamming ≤ `maxHamming`) —
    * hamming ≤ 7 stays EXACT-by-pigeonhole relative to the (possibly
    * capped) index postings. */
  def imageNearDupJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global): DataFrame =
    hashJoinIndexed(dhash(newDocs, idCol, payloadCol), idCol, index,
      maxHamming, scope)

  /** [[imageNearDupJoinIndexed]] for audio (vs an [[audioDhashIndex]]). */
  def audioNearDupJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global): DataFrame =
    hashJoinIndexed(audioDhash(newDocs, idCol, payloadCol), idCol, index,
      maxHamming, scope)

  /** [[dhashIndex]] for the SPECTRAL audio hash — same posting contract,
    * so the bucketed-table persistence and incremental-join machinery
    * transfer unchanged. */
  def audioSpectralIndex(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    hashIndexOf(audioSpectralHash(df, idCol, payloadCol), idCol,
      maxPerBucketSide)

  /** [[imageNearDupJoinIndexed]] for the spectral audio hash (vs an
    * [[audioSpectralIndex]]): the re-encode-robust incremental gate —
    * a level-shifted/gain-scaled/upsampled re-encode of an indexed clip
    * collides at hamming 0 where the energy-delta index misses it. */
  def audioSpectralNearDupJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global): DataFrame =
    hashJoinIndexed(audioSpectralHash(newDocs, idCol, payloadCol), idCol,
      index, maxHamming, scope)

  /** The batch indexed join of every single-hash modality:
    * [[hashIndexedCandidates]] over cached new-slice band rows, distinct
    * (a_id = new id, b_id = index id, hamming). */
  private def hashJoinIndexed(
      hashFrame: DataFrame,
      idCol: String,
      index: DataFrame,
      maxHamming: Int,
      scope: CacheScope): DataFrame = {
    import org.apache.spark.sql.functions._
    hashIndexedCandidates(hashFrame, idCol, index, maxHamming,
        persist = scope.cache)
      .select(col("__nid__").as("a_id"), col("__id__").as("b_id"),
        col("__ham__").as("hamming"))
      .distinct()
  }

  /** 64-bit AUDIO difference hash — [[dhashBytes]]' audio sibling (the
    * energy-delta-sign fingerprint): channel-0 PCM divides into 65
    * floor-boundary boxes; bit b is set iff box b's ENERGY (Σ s², exact
    * integer) beats box b+1's, compared by exact cross-multiplication
    * against the box sample counts in BigInteger (no division, no
    * overflow at any duration). Same 8-byte band-blocking contract.
    * Null for non-PCM payloads or clips shorter than 65 samples. */
  def audioDhashBytes(payload: Array[Byte]): Array[Int] = {
    val pcm = decodeWavPcm(payload)
    if (pcm == null) return null
    val stride = pcm.channels
    val n = pcm.samples.length / stride
    if (n < 65) return null
    val e = new Array[Long](65)
    val c = new Array[Long](65)
    var b = 0
    while (b < 65) {
      val lo = (b.toLong * n / 65).toInt
      val hi = ((b + 1).toLong * n / 65).toInt
      var s = 0L
      var i = lo
      while (i < hi) {
        val v = pcm.samples(i * stride).toLong
        s += v * v
        i += 1
      }
      e(b) = s
      c(b) = hi - lo
      b += 1
    }
    Array.tabulate(8) { k =>
      var byte = 0
      var x = 0
      while (x < 8) {
        val i = 8 * k + x
        val l = java.math.BigInteger.valueOf(e(i))
          .multiply(java.math.BigInteger.valueOf(c(i + 1)))
        val r = java.math.BigInteger.valueOf(e(i + 1))
          .multiply(java.math.BigInteger.valueOf(c(i)))
        if (l.compareTo(r) > 0) byte |= 1 << x
        x += 1
      }
      byte
    }
  }

  /** The 8 odd DFT bands (k of a 64-point transform) used by
    * [[audioSpectralHashBytes]]. Odd k only: cos/sin at odd k are
    * ANTIPERIODIC over half the frame (f(j+32) = −f(j)), so the
    * fixed-point tables below are built as [first 32 rounded ‖ negated
    * first 32] and each row sums to zero EXACTLY — a constant (DC)
    * offset on the samples cancels bit-for-bit, no rounding residue. */
  private[llm] val SpectralBands: Array[Int] = Array(1, 3, 5, 7, 9, 11, 13, 15)

  private def spectralTable(f: Double => Double): Array[Array[Int]] =
    SpectralBands.map { k =>
      val half = Array.tabulate(32)(j =>
        math.round(f(2.0 * math.Pi * k * j / 64.0) * 128.0).toInt)
      half ++ half.map(v => -v)
    }

  /** Fixed-point (scale 128) 64-tap DFT tables, one row per band in
    * [[SpectralBands]]. These EXACT integers are the single source of
    * truth: the oracle SQL embeds them as literals rendered from these
    * arrays, so no cross-engine cos/sin rounding exists anywhere. */
  private[graft] lazy val SpectralCos: Array[Array[Int]] = spectralTable(math.cos)
  private[graft] lazy val SpectralSin: Array[Array[Int]] = spectralTable(math.sin)

  /** 64-bit SPECTRAL audio hash — the FFT-band sibling of
    * [[audioDhashBytes]], robust to the re-encodings the raw
    * energy-delta hash misses. Channel-0 PCM is sampled on ONE GLOBAL
    * grid of 576 evenly-spaced taps (tap q = sample ⌊q·n/576⌋, q in
    * [0, 576); box t = taps [64t, 64t+64)) — global, not per-box,
    * because only the global grid commutes with integer upsampling:
    * under k-fold sample repetition ⌊⌊q·kn/576⌋/k⌋ = ⌊q·n/576⌋, so the
    * taps are EXACTLY invariant and a repeat-upsampled re-encode hashes
    * identically (per-box floor boundaries would NOT commute). An
    * integer fixed-point DFT ([[SpectralCos]]/[[SpectralSin]], scale
    * 128) yields 8 odd-band energies E = C² + S² per box — exact in
    * int64 (|C| ≤ 2²⁸ at full 16-bit range). Bit (t, b) is set iff band
    * b's energy in box t beats box t+1's: amplitude scaling multiplies
    * every E by a² (compares invariant) and a DC level shift cancels
    * exactly (zero-sum table rows), while genuinely different audio
    * diverges. Same 8-byte band-blocking contract as [[audioDhashBytes]]
    * — [[bandedHammingPairs]] and the posting-index machinery transfer
    * unchanged. Null for non-PCM payloads or clips under 65 samples. */
  def audioSpectralHashBytes(payload: Array[Byte]): Array[Int] = {
    val pcm = decodeWavPcm(payload)
    if (pcm == null) return null
    val stride = pcm.channels
    val n = pcm.samples.length / stride
    if (n < 65) return null
    // global tap grid q = 64t + j — commutes with upsampling
    spectralBits((t, j) =>
      pcm.samples(((64L * t + j) * n / 576).toInt * stride).toLong)
  }

  /** The spectral kernel of [[audioSpectralHashBytes]] and
    * [[imageSpectralHashBytes]]: `tap(t, j)` reads the 9×64 tap grid,
    * each tap row t runs the 8 odd-band fixed-point DFT
    * ([[SpectralCos]]/[[SpectralSin]]) to energies E = C² + S², and bit
    * (t, b) is set iff band b's energy in row t beats row t+1's. */
  private def spectralBits(tap: (Int, Int) => Long): Array[Int] = {
    val e = Array.ofDim[Long](9, 8)
    val v = new Array[Long](64)
    var t = 0
    while (t < 9) {
      var j = 0
      while (j < 64) { v(j) = tap(t, j); j += 1 }
      var b = 0
      while (b < 8) {
        val ct = SpectralCos(b); val st = SpectralSin(b)
        var cs = 0L; var sn = 0L
        j = 0
        while (j < 64) { cs += v(j) * ct(j); sn += v(j) * st(j); j += 1 }
        e(t)(b) = cs * cs + sn * sn
        b += 1
      }
      t += 1
    }
    Array.tabulate(8) { k =>
      var byte = 0
      var b = 0
      while (b < 8) {
        if (e(k)(b) > e(k + 1)(b)) byte |= 1 << b
        b += 1
      }
      byte
    }
  }

  /** 64-bit SPECTRAL image hash — [[audioSpectralHashBytes]]' image
    * sibling over PNG luminance (channel 0), robust to the re-encodes
    * the box-mean [[dhashBytes]] misses: pixels sample on a GLOBAL
    * 9×64 tap grid (tap (t, j) reads pixel (⌊j·w/64⌋, ⌊t·h/9⌋) — each
    * coordinate a SINGLE floor, so under k-fold pixel-repeat upscaling
    * ⌊⌊j·kw/64⌋/k⌋ = ⌊j·w/64⌋ makes the taps EXACTLY invariant in both
    * axes, where the dHash box boundaries ⌊b·kw/9⌋ do not commute and
    * its cross-multiplied sums can flip), then each tap row runs the
    * SAME 8 odd-band integer DFT as the audio hash ([[SpectralCos]]/
    * [[SpectralSin]] — zero-sum rows cancel a brightness shift exactly;
    * a contrast scale multiplies all energies by a²). Bit (t, b):
    * band b's energy in row t beats row t+1's. Same 8-byte band-blocking
    * contract. Null for non-PNG payloads or rasters under 8×9. */
  def imageSpectralHashBytes(payload: Array[Byte]): Array[Int] = {
    val r = decodePngRaster(payload)
    if (r == null || r.w < 8 || r.h < 9) return null
    spectralBits((t, j) =>
      r.pixel((j.toLong * r.w / 64).toInt, (t.toLong * r.h / 9).toInt, 0).toLong)
  }

  /** Image spectral-hash frame (the [[dhash]] shape). */
  def imageSpectralHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    hashFrame(df, idCol, payloadCol)(imageSpectralHashBytes)

  /** Perceptual near-duplicate IMAGE pairs by SPECTRAL content —
    * catches brightness-shifted / contrast-scaled / integer-upscaled
    * re-encodes the box-mean dHash misses (spec-pinned); same exact
    * band-blocked join. */
  def imageSpectralNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(imageSpectralHash(df, idCol, payloadCol), idCol,
      maxHamming, scope, maxPerBucketSide)

  /** [[dhashIndex]] for the SPECTRAL image hash — same posting
    * contract; the bucketed-table persistence and incremental-join
    * machinery transfer unchanged. */
  def imageSpectralIndex(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    hashIndexOf(imageSpectralHash(df, idCol, payloadCol), idCol,
      maxPerBucketSide)

  /** [[imageNearDupJoinIndexed]] for the spectral image hash (vs an
    * [[imageSpectralIndex]]): the re-encode-robust incremental gate —
    * a brightness/contrast/upscale re-encode of an indexed image
    * collides at hamming 0 where the box-mean dHash index misses it. */
  def imageSpectralNearDupJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global): DataFrame =
    hashJoinIndexed(imageSpectralHash(newDocs, idCol, payloadCol), idCol,
      index, maxHamming, scope)

  /** Spectral-hash frame (the [[dhash]] shape). */
  def audioSpectralHash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    hashFrame(df, idCol, payloadCol)(audioSpectralHashBytes)

  /** Perceptual near-duplicate AUDIO pairs by SPECTRAL content —
    * catches level-shifted / gain-scaled / integer-upsampled re-encodes
    * the energy-delta [[audioNearDupPairs]] misses (spec-pinned); same
    * exact band-blocked join. */
  def audioSpectralNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(audioSpectralHash(df, idCol, payloadCol), idCol,
      maxHamming, scope, maxPerBucketSide)

  /** Audio hash frame (the [[dhash]] shape). */
  def audioDhash(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    hashFrame(df, idCol, payloadCol)(audioDhashBytes)

  /** Perceptual near-duplicate AUDIO pairs — re-encoded / slightly
    * level-shifted copies of a clip collide, unrelated clips don't;
    * same exact band-blocked join as [[imageNearDupPairs]]. */
  def audioNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    bandedHammingPairs(audioDhash(df, idCol, payloadCol), idCol, maxHamming,
      scope, maxPerBucketSide)

  /** Per-channel pixel statistics produced by [[decodePixels]] — the
    * output of a REAL decompress-and-unfilter pass over PNG image data
    * (not header sniffing). Arrays are indexed by channel. */
  val PixelSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mins", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("maxs", ArrayType(LongType, containsNull = false), nullable = false),
  ))

  /** One fixed-grid patch: 0-based grid coordinates + per-channel means
    * (6-dp, exact for power-of-two patch sizes — the sum is an integer
    * and the divisor a power of two, so the double is exact and the
    * round is a formatting no-op the oracle replays trivially). */
  val PatchSchema: StructType = StructType(Seq(
    StructField("py", IntegerType, nullable = false),
    StructField("px", IntegerType, nullable = false),
    StructField("means", ArrayType(DoubleType, containsNull = false),
      nullable = false),
  ))

  /** Encode an 8-bit PNG from a pixel function — pure JDK
    * (`java.util.zip.Deflater` for IDAT, `CRC32` for chunk checksums).
    * `channels`: 1 = grayscale, 3 = RGB, 4 = RGBA (PNG color types
    * 0/2/6). Scanline filters CYCLE through all five PNG filter types
    * (None/Sub/Up/Average/Paeth, y mod 5) so a round-trip through
    * [[decodePixels]] exercises every unfilter path — this is the
    * encoder used to build deterministic test fixtures, and a usable
    * thumbnail/tile writer in its own right. */
  def encodePng(w: Int, h: Int, channels: Int,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, s"invalid dims ${w}x$h")
    val colorType = channels match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case c => throw new IllegalArgumentException(s"unsupported channels: $c")
    }
    val bpp = channels
    val stride = w * bpp
    // raw scanlines, then per-row filter (f = raw - predictor, mod 256)
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < channels) {
          raw(y * stride + x * bpp + c) = (pixel(x, y, c) & 0xff).toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val filtered = new Array[Byte](h * (1 + stride))
    y = 0
    while (y < h) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var k = 0
      while (k < stride) {
        val cur = raw(y * stride + k) & 0xff
        val a = if (k >= bpp) raw(y * stride + k - bpp) & 0xff else 0
        val b = if (y > 0) raw((y - 1) * stride + k) & 0xff else 0
        val cc = if (y > 0 && k >= bpp) raw((y - 1) * stride + k - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, cc)
        }
        filtered(y * (1 + stride) + 1 + k) = ((cur - pred) & 0xff).toByte
        k += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(filtered); deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) zbuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSignature)
    def chunk(ctype: String, data: Array[Byte]): Unit = {
      def be(v: Int): Array[Byte] = Array((v >>> 24).toByte,
        (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      out.write(be(data.length))
      val tb = ctype.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(be(crc.getValue.toInt))
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    chunk("IHDR", ihdr)
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Deterministic PNG fixture: RGB, dims and every pixel value a closed
    * form of `id` — `w = 8 + id%5`, `h = 6 + id%7`,
    * `pixel(x,y,c) = (7x + 13y + 31c + 3·id) mod 256`. The SQL oracle for
    * `q_multimodal_pixels` replays the SAME closed form over a range
    * cross-join, so a byte-exact [[decodePixels]] (inflate + unfilter of
    * real IDAT data, all five filter types) is the only way the stats
    * match. */
  def pngFixture(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt
    val h = (6 + id % 7).toInt
    encodePng(w, h, 3,
      (x, y, c) => ((7L * x + 13L * y + 31L * c + 3L * id) % 256L).toInt)
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** The unfiltered raster behind [[decodePngPixels]]: `raw` holds
    * `h` scanlines of `1 + w*channels` bytes each (the leading filter
    * byte is dead after reconstruction). Null on any unsupported or
    * corrupt payload — same acceptance rules as the stats decode. */
  private[llm] final case class PngRaster(
      w: Int, h: Int, channels: Int, raw: Array[Byte]) {
    def pixel(x: Int, y: Int, c: Int): Int =
      raw(y * (1 + w * channels) + 1 + x * channels + c) & 0xff
  }

  /** Full PNG pixel decode — the real thing, pure JDK: chunk walk →
    * concatenated IDAT → `java.util.zip.Inflater` → per-scanline
    * unfilter (all five PNG filter types incl. Average/Paeth) → one
    * accumulation pass for per-channel sum/min/max. Supports 8-bit
    * color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA),
    * non-interlaced. Anything else — or any truncation/corruption the
    * inflate or size checks catch — returns null (honest, never
    * fabricated). This closes the "header-only" seam the metadata
    * decoder documented. */
  def decodePngPixels(payload: Array[Byte]): Row = {
    val r = decodePngRaster(payload)
    if (r == null) return null
    val PngRaster(w, h, channels, raw) = r
    val stride = 1 + w * channels
    val sums = new Array[Long](channels)
    val mins = Array.fill(channels)(255L)
    val maxs = new Array[Long](channels)
    var y = 0
    while (y < h) {
      val rs = y * stride + 1
      var k = 0
      while (k < w * channels) {
        val v = (raw(rs + k) & 0xff).toLong
        val c = k % channels
        sums(c) += v
        if (v < mins(c)) mins(c) = v
        if (v > maxs(c)) maxs(c) = v
        k += 1
      }
      y += 1
    }
    Row(w, h, channels, w.toLong * h, sums.toSeq, mins.toSeq, maxs.toSeq)
  }

  private[llm] def decodePngRaster(payload: Array[Byte]): PngRaster = {
    if (payload == null || payload.length < 45 ||
        !payload.startsWith(PngSignature)) return null
    def u8(i: Int): Int = payload(i) & 0xff
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    var i = 8
    var w = 0; var h = 0; var bitDepth = -1; var colorType = -1
    var interlace = 0
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && i + 8 <= payload.length) {
      val clen = be32(i)
      if (clen < 0 || i + 12L + clen > payload.length) return null // truncated
      val ctype = new String(payload, i + 4, 4,
        java.nio.charset.StandardCharsets.US_ASCII)
      ctype match {
        case "IHDR" =>
          w = be32(i + 8); h = be32(i + 12)
          bitDepth = u8(i + 16); colorType = u8(i + 17)
          interlace = u8(i + 20)
        case "IDAT" => idat.write(payload, i + 8, clen)
        case "IEND" => done = true
        case _      => () // ancillary chunks skipped
      }
      i += 12 + clen
    }
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => return null
    }
    if (bitDepth != 8 || interlace != 0 || w <= 0 || h <= 0 ||
        w.toLong * h * channels > Int.MaxValue - h) return null
    val bpp = channels
    val stride = 1 + w * bpp // filter byte + pixel bytes
    val raw = new Array[Byte](h * stride)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var off = 0
    try {
      while (!inflater.finished() && off < raw.length) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return null // truncated / preset-dictionary stream
        off += n
      }
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inflater.end()
    if (off != raw.length) return null
    // unfilter in place (recon bytes overwrite filtered bytes, so the
    // left/up/up-left predictors read already-reconstructed data)
    var y = 0
    while (y < h) {
      val rs = y * stride
      val ft = raw(rs) & 0xff
      if (ft > 4) return null
      var k = 1
      while (k <= w * bpp) {
        val a = if (k > bpp) raw(rs + k - bpp) & 0xff else 0
        val b = if (y > 0) raw(rs - stride + k) & 0xff else 0
        val c = if (y > 0 && k > bpp) raw(rs - stride + k - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => paeth(a, b, c)
        }
        raw(rs + k) = (((raw(rs + k) & 0xff) + pred) & 0xff).toByte
        k += 1
      }
      y += 1
    }
    PngRaster(w, h, channels, raw)
  }

  /** Encode an 8-bit-palette single-frame GIF89a from a pixel-index
    * function — pure JDK, with a REAL variable-width LZW compressor (not
    * the literal-codes shortcut, so round-trip tests exercise the
    * decoder's dictionary chains and KwKwK path). The 256-entry global
    * color table maps index i to RGB `(i, 2i mod 256, 3i mod 256)` — a
    * fixed ramp the decoder inverts through the same table.
    *
    * Width sync (the classic GIF trap): the decoder materializes each
    * dictionary entry one code LATER than the encoder, so the encoder
    * widens when ITS nextFree reaches 2^width + 1 — exactly when the
    * decoder's reaches 2^width — and performs the same bookkeeping after
    * the final data code so the EOI is written at the width the decoder
    * will read it with. On a full table (4096) it emits CLEAR and
    * resets, matching the decoder's guard. */
  def encodeGif(w: Int, h: Int, pixel: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"invalid dims ${w}x$h")
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    writeGifFrame(out, w, h, pixel)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** GIF89a header + logical screen descriptor + the fixed 256-entry
    * global color table ramp `(i, 2i mod 256, 3i mod 256)`. */
  private def writeGifHeader(out: java.io.ByteArrayOutputStream,
      w: Int, h: Int): Unit = {
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    le16(w); le16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) { // global color table: the fixed ramp
      out.write(i); out.write((i * 2) % 256); out.write((i * 3) % 256)
      i += 1
    }
  }

  /** One full-screen image descriptor + LZW-compressed frame data (the
    * real variable-width compressor — see [[encodeGif]]'s scaladoc for
    * the width-sync bookkeeping). */
  private def writeGifFrame(out: java.io.ByteArrayOutputStream,
      w: Int, h: Int, pixel: (Int, Int) => Int): Unit = {
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    out.write(0x2c); le16(0); le16(0); le16(w); le16(h); out.write(0) // descriptor
    out.write(8) // LZW minimum code size
    val Clear = 256; val Eoi = 257
    val data = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    var width = 9
    var nextFree = Eoi + 1
    val dict = new java.util.HashMap[Integer, Integer]()
    def put(code: Int): Unit = {
      acc |= (code.toLong & 0xfff) << nbits; nbits += width
      while (nbits >= 8) { data.write((acc & 0xff).toInt); acc >>>= 8; nbits -= 8 }
    }
    // post-emit bookkeeping: mirror the decoder's entry add + width bump
    // (encoder nextFree runs one ahead; see scaladoc)
    def account(key: Int): Unit =
      if (nextFree < 4096) {
        if (key >= 0) dict.put(key, nextFree)
        nextFree += 1
        if (nextFree == (1 << width) + 1 && width < 12) width += 1
      }
    def reset(): Unit = { dict.clear(); width = 9; nextFree = Eoi + 1 }
    put(Clear)
    var cur = -1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = pixel(x, y) & 0xff
        if (cur == -1) cur = p
        else {
          val key = (cur << 8) | p
          val e = dict.get(key)
          if (e != null) cur = e.intValue()
          else {
            put(cur)
            account(key)
            if (nextFree >= 4096) { put(Clear); reset() }
            cur = p
          }
        }
        x += 1
      }
      y += 1
    }
    put(cur)
    account(-1) // keep EOI's width in sync with the decoder's final bump
    put(Eoi)
    if (nbits > 0) data.write((acc & 0xff).toInt)
    val bytes = data.toByteArray
    var off = 0
    while (off < bytes.length) { // <=255-byte sub-blocks
      val n = math.min(255, bytes.length - off)
      out.write(n); out.write(bytes, off, n); off += n
    }
    out.write(0) // block terminator
  }

  /** Encode a multi-frame (animated) GIF89a — the pure-JDK stand-in for a
    * video container: N full-screen frames behind one global palette
    * ramp, each preceded by a Graphic Control Extension carrying the
    * frame delay, plus the NETSCAPE 2.0 looping extension real encoders
    * emit. `pixel(frame, x, y)` gives each frame's palette index. Every
    * frame gets its own real LZW-compressed data stream, so frame
    * sampling ([[sampleGifFrames]]) exercises genuine decode-vs-skip
    * economics. */
  def encodeAnimatedGif(w: Int, h: Int, nFrames: Int,
      pixel: (Int, Int, Int) => Int, delayCs: Int = 4): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, s"invalid dims ${w}x$h")
    require(nFrames >= 1, s"need at least one frame, got $nFrames")
    val out = new java.io.ByteArrayOutputStream()
    writeGifHeader(out, w, h)
    // NETSCAPE 2.0 application extension: loop forever
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    out.write(3); out.write(1); out.write(0); out.write(0); out.write(0)
    var f = 0
    while (f < nFrames) {
      // Graphic Control Extension: no disposal/transparency, delay in cs
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0)
      out.write(delayCs & 0xff); out.write((delayCs >>> 8) & 0xff)
      out.write(0); out.write(0)
      val frame = f
      writeGifFrame(out, w, h, (x, y) => pixel(frame, x, y))
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Deterministic GIF fixture: dims and every pixel INDEX a closed form
    * of `id` (`w = 8 + id%5`, `h = 6 + id%7`,
    * `idx(x,y) = (11x + 17y + 3·id) mod 256`), mapped through the fixed
    * palette ramp — so channel values are `idx`, `2·idx mod 256`,
    * `3·idx mod 256`, all SQL-replayable. Only a real LZW decode of the
    * compressed code stream reproduces them. */
  def gifFixture(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt
    val h = (6 + id % 7).toInt
    encodeGif(w, h, (x, y) => ((11L * x + 17L * y + 3L * id) % 256L).toInt)
  }

  /** Deterministic ANIMATED fixture: `gifFixture`'s dims, `3 + id%4`
    * frames, pixel index `(11x + 17y + 23f + 3·id) mod 256` — the frame
    * term makes every frame distinct so a sampler that silently decodes
    * the wrong frame (or reuses the previous one) cannot match the
    * closed form. */
  def gifAnimFixture(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt
    val h = (6 + id % 7).toInt
    val nf = (3 + id % 4).toInt
    encodeAnimatedGif(w, h, nf,
      (f, x, y) => ((11L * x + 17L * y + 23L * f + 3L * id) % 256L).toInt)
  }

  /** True when the payload starts with the GIF signature "GIF8". */
  private def isGif(payload: Array[Byte]): Boolean = {
    def u8(i: Int): Int = payload(i) & 0xff
    payload.length >= 4 &&
      u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8'
  }

  /** The entry count of a GIF's global color table, the palette every
    * decoded index maps through; -1 for a short or non-GIF payload, one
    * without a global table, or one that ends inside it. */
  private def gifPalette(payload: Array[Byte]): Int =
    if (payload == null || payload.length < 21 || !isGif(payload) ||
        (payload(10) & 0x80) == 0) -1
    else {
      val entries = 1 << ((payload(10) & 7) + 1)
      if (13 + 3 * entries >= payload.length) -1 else entries
    }

  /** A GIF image descriptor as [[walkGif]] finds it: 0-based frame
    * index, the frame's dims, its local-palette flag, the LZW minimum
    * code size (-1 when the payload ends first) and the data sub-block
    * chain from `data` to `end`, past its 0 terminator (-1 when the chain
    * runs off the payload). */
  private final case class GifFrame(ix: Int, w: Int, h: Int, local: Boolean,
      minCode: Int, data: Int, end: Int) {
    /** Whole, mapped through the global table, with a legal code size. */
    def decodable: Boolean = !local && minCode >= 2 && minCode <= 8 && end >= 0
  }

  /** How a [[walkGif]] ended. */
  private object GifEnd extends Enumeration {
    val Trailer, Truncated, Corrupt, Stopped = Value
  }

  /** The one GIF container walk: past the header and the global color
    * table (when flagged), over the 0x21 extension, 0x2c image and 0x3b
    * trailer blocks. Extensions (GCE / NETSCAPE / comment) and frame data
    * are length-prefixed sub-block chains, hopped by their length bytes
    * — nothing is copied or decoded here; color tables are 3·2^(size+1)
    * bytes when flagged. `visit` sees every complete image descriptor in
    * order, a frame whose palette or data the payload cuts short
    * included, and returns whether to go on. */
  private def walkGif(payload: Array[Byte])(
      visit: GifFrame => Boolean): GifEnd.Value = {
    def u8(i: Int): Int = payload(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def table(packed: Int): Int =
      if ((packed & 0x80) != 0) 3 * (1 << ((packed & 7) + 1)) else 0
    /** The offset past the 0 terminator of the chain at `start`, or -1. */
    def hop(start: Int): Int = {
      var i = start
      while (i < payload.length && u8(i) != 0) i += 1 + u8(i)
      if (i < payload.length) i + 1 else -1
    }
    var i = 13 + (if (payload.length >= 13) table(u8(10)) else 0)
    var ix = 0
    var end: GifEnd.Value = null
    while (end == null) {
      if (i < 0 || i >= payload.length) end = GifEnd.Truncated
      else u8(i) match {
        case 0x3b => end = GifEnd.Trailer
        case 0x21 => i = hop(i + 2) // label + chain
        case 0x2c =>
          if (i + 10 > payload.length) end = GifEnd.Truncated
          else {
            val p = u8(i + 9)
            val at = i + 10 + table(p) // the LZW minimum code size
            val minCode = if (at < payload.length) u8(at) else -1
            val f = GifFrame(ix, le16(i + 5), le16(i + 7), (p & 0x80) != 0,
              minCode, at + 1, if (minCode < 0) -1 else hop(at + 1))
            if (!visit(f)) end = GifEnd.Stopped
            i = f.end; ix += 1
          }
        case _ => end = GifEnd.Corrupt
      }
    }
    end
  }

  /** The one GIF LZW decoder (GIF89a: LSB-first codes, dynamic code
    * width 3–12 bits, CLEAR/EOI handling, the KwKwK self-reference case)
    * of a [[GifFrame.decodable]] frame, read straight from its
    * sub-blocks: the frame's w·h palette-INDEX raster, row-major, or null
    * on an empty frame or any corruption the stream checks catch (a bad
    * code, no EOI, a pixel count other than w·h). Memory is one frame;
    * the raster grows with what the stream emits, so a descriptor's
    * claimed size alone allocates nothing. */
  private def gifRaster(payload: Array[Byte], f: GifFrame): Array[Byte] = {
    val nPx = f.w.toLong * f.h
    if (nPx <= 0 || nPx > Int.MaxValue - 8) return null
    val minCode = f.minCode
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val stack = new Array[Int](4097)
    var width = minCode + 1
    var nextFree = eoi + 1
    var prev = -1
    var acc = 0L; var nbits = 0
    var pos = f.data; var left = 0 // data bytes left in the current sub-block
    var out = new Array[Byte](math.min(nPx, 1L << 16).toInt)
    var emitted = 0L
    def emit(idx: Int): Unit = {
      if (emitted < nPx) {
        if (emitted == out.length)
          out = java.util.Arrays.copyOf(out, math.min(nPx, 2L * out.length).toInt)
        out(emitted.toInt) = idx.toByte
      }
      emitted += 1
    }
    var done = false
    while (!done) {
      while (nbits < width && pos < f.end - 1) { // f.end - 1: the terminator
        if (left == 0) left = payload(pos) & 0xff
        else {
          acc |= (payload(pos).toLong & 0xff) << nbits; nbits += 8; left -= 1
        }
        pos += 1
      }
      if (nbits < width) return null // ran out of bits before EOI
      val c = (acc & ((1L << width) - 1)).toInt
      acc >>>= width; nbits -= width
      if (c == clear) {
        width = minCode + 1; nextFree = eoi + 1; prev = -1
      } else if (c == eoi) {
        done = true
      } else if (prev == -1) {
        if (c >= clear) return null // first code after reset must be literal
        emit(c); prev = c
      } else {
        if (c > nextFree) return null
        // unwind string(c) — or, in the KwKwK case (c == nextFree, the
        // not-yet-added entry), string(prev): the output is then
        // string(prev) + firstChar(string(prev))
        var top = 0
        var cur = if (c == nextFree) prev else c
        while (cur >= clear + 2) { stack(top) = suffix(cur); top += 1; cur = prefix(cur) }
        val first = cur // the root literal = firstChar of the output string
        stack(top) = first; top += 1
        var k = top - 1
        while (k >= 0) { emit(stack(k)); k -= 1 } // stack holds it reversed
        if (c == nextFree) emit(first)
        if (nextFree <= 4095) {
          prefix(nextFree) = prev; suffix(nextFree) = first; nextFree += 1
        }
        if (nextFree == (1 << width) && width < 12) width += 1
        prev = c
      }
    }
    if (emitted != nPx) return null // wrong pixel count: corrupt stream
    out
  }

  /** [[gifRaster]] of a frame every index of which names an entry of
    * the global table's `entries` — else null, since a lookup past the
    * table would read bytes that are not palette. */
  private def paletteRaster(payload: Array[Byte], f: GifFrame,
      entries: Int): Array[Byte] = {
    val raster = gifRaster(payload, f)
    if (raster == null || (1 << f.minCode) <= entries) return raster
    var k = 0
    while (k < raster.length) {
      if ((raster(k) & 0xff) >= entries) return null
      k += 1
    }
    raster
  }

  /** A frame's per-channel (sums, mins, maxs) through the global color
    * table — one pass over its [[paletteRaster]], the way
    * [[decodePngPixels]] reduces [[decodePngRaster]]; null when the
    * frame does not decode. */
  private def gifFrameStats(payload: Array[Byte], f: GifFrame,
      entries: Int): Seq[Seq[Long]] = {
    val raster = paletteRaster(payload, f, entries)
    if (raster == null) return null
    val sums = new Array[Long](3)
    val mins = Array.fill(3)(255L)
    val maxs = new Array[Long](3)
    var k = 0
    while (k < raster.length) {
      val at = 13 + 3 * (raster(k) & 0xff)
      var c = 0
      while (c < 3) {
        val v = (payload(at + c) & 0xff).toLong
        sums(c) += v
        if (v < mins(c)) mins(c) = v
        if (v > maxs(c)) maxs(c) = v
        c += 1
      }
      k += 1
    }
    Seq(sums.toSeq, mins.toSeq, maxs.toSeq)
  }

  /** Full GIF pixel decode — pure JDK: the first image's
    * [[gifRaster]] mapped through the global color table to RGB stats.
    * Interlaced images are fine (row order doesn't change channel
    * statistics), and nothing after the first frame is read. Returns
    * null — honest, never fabricated — for images without a color
    * table, local-palette frames, indices past the table, or any
    * truncation/corruption the stream checks catch. */
  def decodeGifPixels(payload: Array[Byte]): Row = {
    val entries = gifPalette(payload)
    if (entries < 0) return null
    var px: Row = null
    walkGif(payload) { f =>
      val stats = if (f.decodable) gifFrameStats(payload, f, entries) else null
      if (stats != null) px = Row.fromSeq(Seq[Any](f.w, f.h, 3, f.w.toLong * f.h) ++ stats)
      false // the first frame only
    }
    px
  }

  /** The strict multi-frame GIF read of [[sampleGifFrames]],
    * [[videoFrameDhashes]] and [[sceneDiffs]]: `decode` (given the frame
    * and the global table's entry count) every `every`-th frame, in
    * order. Null without a global table or the trailer, on any frame —
    * sampled or not — that is not [[GifFrame.decodable]], or when
    * `decode` returns null. */
  private def decodeGifFrames[T >: Null](payload: Array[Byte], every: Int)(
      decode: (GifFrame, Int) => T): Seq[T] = {
    require(every >= 1, s"every must be >= 1, got $every")
    val entries = gifPalette(payload)
    if (entries < 0) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    val end = walkGif(payload) { f =>
      f.decodable && (f.ix % every != 0 || {
        val v = decode(f, entries)
        if (v != null) out += v
        v != null
      })
    }
    if (end == GifEnd.Trailer) out.toSeq else null
  }

  /** One sampled frame's statistics, produced by [[sampleGifFrames]]:
    * 0-based frame index, the frame's own descriptor dims, and the
    * per-channel stats of its decoded pixels. */
  val FrameSchema: StructType = StructType(Seq(
    StructField("frame_ix", IntegerType, nullable = false),
    StructField("fw", IntegerType, nullable = false),
    StructField("fh", IntegerType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("sums", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("mins", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("maxs", ArrayType(LongType, containsNull = false), nullable = false),
  ))

  /** Video-style frame sampling over an animated GIF: walk EVERY image
    * descriptor, LZW-decode only frames whose index is a multiple of
    * `every`, and SKIP the compressed data of the rest (a length-prefixed
    * sub-block hop — no bit-level work), so decode cost scales with
    * sampled frames, not total frames: the economics real video frame
    * sampling needs. Returns one [[FrameSchema]] row per sampled frame,
    * or null for corrupt payloads / no global palette / local-palette
    * frames / indices past the table (same honesty rules as
    * [[decodeGifPixels]]). */
  def sampleGifFrames(payload: Array[Byte], every: Int): Seq[Row] =
    decodeGifFrames[Row](payload, every) { (f, entries) =>
      val stats = gifFrameStats(payload, f, entries)
      if (stats == null) null
      else Row.fromSeq(Seq[Any](f.ix, f.w, f.h, f.w.toLong * f.h) ++ stats)
    }

  /** Per-sampled-frame dHashes of an animated GIF — the VIDEO
    * fingerprint: every `every`-th frame LZW-decodes to its
    * palette-INDEX raster (unsampled frames are sub-block-hopped, never
    * decoded — decode cost scales with sampled frames) and hashes
    * through the shared [[dhashOfGray]] grid over the INDEX plane. The
    * index plane is the right invariant for dedup: a re-encode that
    * preserves the palette preserves indices exactly, and the dHash
    * compares only relative brightness of adjacent boxes, so any
    * monotone palette ramp gives the same bits as true luma. Returns
    * (frame_ix, 8 band bytes) per sampled frame; null for corrupt /
    * local-palette / sub-grid payloads (honesty rules of
    * [[sampleGifFrames]]). */
  def videoFrameDhashes(payload: Array[Byte], every: Int): Seq[(Int, Array[Int])] =
    decodeGifFrames[(Int, Array[Int])](payload, every) { (f, _) =>
      val raster = if (f.w < 9 || f.h < 8) null else gifRaster(payload, f)
      if (raster == null) null
      else {
        val px = new Array[Int](raster.length)
        var k = 0
        while (k < px.length) { px(k) = raster(k) & 0xff; k += 1 }
        (f.ix, dhashOfGray(f.w, f.h, px))
      }
    }

  /** Video hash frame: one row per (idCol, `frame_ix`, `dhash`) sampled
    * frame via one narrow mapPartitions, with the clip's total sampled
    * count denormalized as `n_frames` — the frame count every all-frames
    * pairing rule reads, batch and streaming (no per-clip aggregation).
    * It counts the clip ROW's frames: a per-id count only while ids are
    * unique. Undecodable payloads drop. */
  def videoDhash(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      every: Int): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    mapPayloads(df, payloadCol, StructType(Seq(df.schema(idCol),
        StructField("frame_ix", IntegerType, nullable = false),
        StructField("dhash", ArrayType(IntegerType, containsNull = false)),
        StructField("n_frames", LongType, nullable = false)))) { (row, payload) =>
      val hs = videoFrameDhashes(payload, every)
      if (hs == null) Iterator.empty
      else hs.iterator.map { case (f, h) =>
        Row(row.get(idIdx), f, h, hs.length.toLong)
      }
    }
  }

  /** The all-aligned-frames pairing rule over verified frame pairs
    * (a_id, b_id, `__f__` frame, `__nfa__`/`__nfb__` the two clips'
    * sampled-frame counts, `__ham__`): de-duplicated across the up-to-8
    * bands that agreed, two clips pair iff the matched frames number
    * both clips' frame counts. Output (a_id, b_id, max_hamming). The
    * counts are aggregated, not grouped on: a filter on grouping keys
    * would be pushed into the band join as an extra equi-key, and an
    * index join would then re-shuffle its `__bkey__`-bucketed side. */
  private def allFramesMatched(perFrame: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    perFrame
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("__m__"), max(col("__ham__")).as("max_hamming"),
        max(col("__nfa__")).as("__nfa__"), max(col("__nfb__")).as("__nfb__"))
      .where(col("__m__") === col("__nfa__") &&
        col("__nfa__") === col("__nfb__"))
      .select(col("a_id"), col("b_id"), col("max_hamming"))
  }

  /** Perceptual near-duplicate VIDEO pairs — the third modality next to
    * [[imageNearDupPairs]] / [[audioNearDupPairs]]: fingerprint = the
    * dHash of every `every`-th frame; two clips pair iff they have the
    * SAME sampled-frame count and EVERY aligned sampled frame is within
    * `maxHamming` (candidates come from a per-frame byte-band equi-join
    * — exact for hamming ≤ 7 by pigeonhole, so a frame pair inside the
    * threshold can never be missed — and a frame pair outside it keeps
    * the clips apart by the matched-frame-count check). Frame counts are
    * [[videoDhash]]'s `n_frames`, so ids must be unique. Output
    * (a_id, b_id, max_hamming). `maxPerBucketSide` is the standard
    * lowest-id cap, per (frame, band, value) bucket. */
  def videoNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      every: Int = 2,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame = {
    val frameEvery = every // `functions.every` shadows the param below
    import org.apache.spark.sql.functions._
    allFramesMatched(
      hammingSelfJoin(videoDhash(df, idCol, payloadCol, frameEvery), idCol,
          maxHamming, scope, maxPerBucketSide, Seq("frame_ix"),
          Seq("n_frames"))
        .select(col("a.__id__").as("a_id"), col("b.__id__").as("b_id"),
          col("a.frame_ix").as("__f__"), col("a.n_frames").as("__nfa__"),
          col("b.n_frames").as("__nfb__"), col("__ham__")))
  }

  /** Persistable per-frame dHash INDEX of a video corpus — the third
    * modality's [[dhashIndex]]: one row per sampled-frame band posting
    * keyed `__bkey__` = "<frame>:<band>:<byte-value>" (frame alignment
    * rides IN the key, so an indexed query only ever joins aligned
    * frames), with the frame's full 8-byte hash (`__dhash__`) AND the
    * clip's sampled-frame count (`__nf__`, [[videoDhash]]'s `n_frames`,
    * so ids must be unique) denormalized onto the posting — a query
    * verifies candidates inline (popcount) and applies the
    * all-frames-aligned pairing rule with no join back to the corpus.
    * `maxPerBucketSide` caps postings per (frame, band, value) bucket AT
    * BUILD time, lowest-id first — same fixed-256-value-domain argument
    * as [[dhashIndex]]. Persist with `ParquetIO.writeBucketed(index,
    * table, path, "__bkey__", buckets)` for zero index-side exchanges
    * at query time. Columns: (`__id__`, `__bkey__`, `__dhash__`,
    * `__nf__`). */
  def videoDhashIndex(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      every: Int = 2,
      maxPerBucketSide: Int = Int.MaxValue): DataFrame =
    hashIndexOf(
      videoDhash(df, idCol, payloadCol, every)
        .withColumnRenamed("n_frames", "__nf__"),
      idCol, maxPerBucketSide, Seq("frame_ix"), Seq("__nf__"))

  /** INCREMENTAL video near-dup join against a pre-built
    * [[videoDhashIndex]]: the new slice decodes + hashes ONLY itself,
    * per-frame postings band-join the index on the composite key (frame
    * alignment is key equality — no misaligned candidates exist), each
    * candidate frame pair verifies inline by popcount, and two clips
    * pair iff EVERY sampled frame on both sides matched within
    * `maxHamming` (the [[videoNearDupPairs]] rule; the new side's frame
    * count is its [[videoDhash]] `n_frames`, so ids must be unique, the
    * index side's rides on the posting). Exact-by-pigeonhole at hamming
    * ≤ 7 relative to the (possibly build-capped) index postings. Returns
    * (a_id = new id, b_id = index id, max_hamming). */
  def videoNearDupJoinIndexed(
      newDocs: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      every: Int = 2,
      maxHamming: Int = 6,
      scope: CacheScope = CacheScope.global): DataFrame = {
    val frameEvery = every // `functions.every` shadows the param below
    import org.apache.spark.sql.functions._
    allFramesMatched(
      hashIndexedCandidates(videoDhash(newDocs, idCol, payloadCol, frameEvery),
          idCol, index, maxHamming, Seq("frame_ix"), Seq("n_frames"),
          scope.cache)
        .select(col("__nid__").as("a_id"), col("__id__").as("b_id"),
          col("frame_ix").as("__f__"), col("n_frames").as("__nfa__"),
          col("__nf__").as("__nfb__"), col("__ham__")))
  }

  /** One frame-pair difference produced by [[sceneDiffs]]: the frame's
    * 0-based index (≥ 1 — frame 0 has no predecessor), its pixel count,
    * and the EXACT integer sum over pixels and RGB channels of
    * |value(f) − value(f−1)| — the mean-absolute-difference statistic
    * scene-cut detectors threshold. */
  val SceneDiffSchema: StructType = StructType(Seq(
    StructField("frame_ix", IntegerType, nullable = false),
    StructField("n_px", LongType, nullable = false),
    StructField("diff_sum", LongType, nullable = false),
  ))

  /** Scene-change statistics over an animated GIF: decode consecutive
    * frames and emit each adjacent pair's summed absolute RGB difference.
    * Working state is exactly TWO frame rasters regardless of clip
    * length — frames stream through, the clip never materializes. Frames
    * must share the full-screen geometry (sub-rectangle frames imply
    * disposal compositing this statistic doesn't model → null, honest).
    * Returns null for corrupt / no-global-palette / local-palette
    * payloads or indices past the table, Nil for single-frame clips. */
  def sceneDiffs(payload: Array[Byte]): Seq[Row] = {
    var prev: GifFrame = null
    var prevRaster: Array[Byte] = null
    val diffs = decodeGifFrames[Seq[Row]](payload, 1) { (f, entries) =>
      val raster =
        if (prev != null && (f.w != prev.w || f.h != prev.h)) null
        else paletteRaster(payload, f, entries)
      if (raster == null) null
      else {
        val row = if (prevRaster == null) Nil else {
          var d = 0L
          var k = 0
          while (k < raster.length) {
            val a = 13 + 3 * (raster(k) & 0xff)
            val b = 13 + 3 * (prevRaster(k) & 0xff)
            if (a != b) {
              var c = 0
              while (c < 3) {
                d += math.abs((payload(a + c) & 0xff) - (payload(b + c) & 0xff))
                c += 1
              }
            }
            k += 1
          }
          Seq(Row(f.ix, raster.length.toLong, d))
        }
        prev = f; prevRaster = raster
        row
      }
    }
    if (diffs == null) null else diffs.flatten
  }

  /** DataFrame form of [[sceneDiffs]]: adds a `scenes` column (array of
    * [[SceneDiffSchema]], null for corrupt payloads). Per-row memory is
    * two frames, output is a few bytes per frame pair. */
  def sceneDiffFrames(df: DataFrame, payloadCol: String): DataFrame =
    withPayloadColumn(df, payloadCol, StructField("scenes",
      ArrayType(SceneDiffSchema, containsNull = false), nullable = true))(
      sceneDiffs)

  /** Deterministic scene-cut fixture: `5 + id%3` frames; within a scene
    * the pixel index drifts by +5 per frame, and at frame `cut = 2 +
    * id%3` the whole frame jumps by +97 — adjacent-frame diffs are small
    * inside scenes and large across the cut, so a thresholding query can
    * recover `cut` exactly. */
  def gifSceneFixture(id: Long): Array[Byte] = {
    val w = (8 + id % 5).toInt
    val h = (6 + id % 7).toInt
    val nf = (5 + id % 3).toInt
    val cut = (2 + id % 3).toInt
    encodeAnimatedGif(w, h, nf, (f, x, y) =>
      ((11L * x + 17L * y + 3L * id + 5L * f +
        (if (f >= cut) 97L else 0L)) % 256L).toInt)
  }

  /** DataFrame form of [[sampleGifFrames]]: adds a `frames` column
    * (array of [[FrameSchema]], null for corrupt/non-GIF payloads). No
    * shuffle — payloads never leave the partition; only the per-frame
    * stats (a few hundred bytes regardless of resolution) do, which is
    * what makes every-Nth-frame feature extraction viable on a 100 TB
    * video corpus. */
  def frameSample(df: DataFrame, payloadCol: String, every: Int): DataFrame =
    withPayloadColumn(df, payloadCol, StructField("frames",
      ArrayType(FrameSchema, containsNull = false), nullable = true))(
      sampleGifFrames(_, every))

  /** Decode a raster payload column into a `px` stats struct column (see
    * [[PixelSchema]]), running the FULL pixel path (PNG: inflate +
    * unfilter; JPEG: baseline Huffman + IDCT, see [[Jpeg]]; GIF: LZW +
    * palette). Unsupported / corrupt payloads yield a null struct. */
  def decodePixels(df: DataFrame, payloadCol: String): DataFrame =
    withPayloadColumn(df, payloadCol,
      StructField("px", PixelSchema, nullable = true)) { payload =>
      if (payload != null && payload.length >= 8 &&
          payload.startsWith(PngSignature)) decodePngPixels(payload)
      else if (payload != null && payload.length >= 4 &&
          (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
        Jpeg.decodePixels(payload)
      else decodeGifPixels(payload)
    }

  /** ViT-style patch embedding prep: decode each PNG payload and reduce
    * every FULL `patch`×`patch` tile of the fixed grid (partial edge tiles
    * drop — the deterministic fixed-grid rule; a production pipeline
    * resizes first) to its per-channel mean — the input statistic a patch
    * projection consumes. Adds a `patches` column:
    * array<struct<py, px, means>> in row-major grid order; null for
    * non-PNG / corrupt payloads, empty array when the image is smaller
    * than one tile.
    *
    * One narrow mapPartitions, no shuffle: per-row work is the inflate +
    * unfilter + one O(pixels) accumulation pass, and the emitted patch
    * vectors are (pixels / patch²)-fold SMALLER than the raster — the
    * image never leaves the partition, only the reduced features do. */
  def patchMeans(df: DataFrame, payloadCol: String, patch: Int): DataFrame = {
    require(patch >= 1, "patch must be >= 1")
    def round6(v: Double): Double =
      java.math.BigDecimal.valueOf(v + 0.0)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    withPayloadColumn(df, payloadCol, StructField("patches",
        ArrayType(PatchSchema, containsNull = false), nullable = true)) {
      payload =>
      val raster = decodePngRaster(payload)
      if (raster == null) null else {
        val nx = raster.w / patch
        val ny = raster.h / patch
        val area = (patch * patch).toDouble
        (0 until ny).flatMap { py =>
          (0 until nx).map { px =>
            val sums = new Array[Long](raster.channels)
            var dy = 0
            while (dy < patch) {
              var dx = 0
              while (dx < patch) {
                var c = 0
                while (c < raster.channels) {
                  sums(c) += raster.pixel(px * patch + dx, py * patch + dy, c)
                  c += 1
                }
                dx += 1
              }
              dy += 1
            }
            Row(py, px, sums.map(s => round6(s / area)).toSeq)
          }
        }
      }
    }
  }

  /** Decoded 16-bit PCM audio: format parameters plus the raw interleaved
    * sample frames, produced by [[decodeWavPcm]]. */
  final case class PcmAudio(sampleRate: Int, channels: Int,
      samples: Array[Short])

  /** Decode a RIFF/WAVE payload's 16-bit PCM samples — the audio analogue
    * of the pixel decoders, pure JDK. Walks the chunk list (word-aligned,
    * filler chunks like JUNK/LIST skipped — fmt and data need not be
    * adjacent or in canonical order), requires uncompressed 16-bit PCM
    * (audioFormat 1), and caps the data chunk's claim at the bytes
    * actually present, so truncated files decode the honest prefix.
    * Returns null for non-WAV / compressed / non-16-bit payloads. */
  def decodeWavPcm(payload: Array[Byte]): PcmAudio = {
    if (payload == null || payload.length < 36) return null
    def u8(i: Int): Int = payload(i) & 0xff
    if (!(u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
        u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' && u8(11) == 'E')) return null
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i).toLong | (u8(i + 1).toLong << 8) |
        (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL
    var i = 12
    var audioFormat = -1; var channels = 0; var sampleRate = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (i + 8 <= payload.length) {
      val id = new String(payload, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val sz = le32(i + 4)
      if (id == "fmt " && i + 24 <= payload.length) {
        audioFormat = le16(i + 8)
        channels = le16(i + 10)
        sampleRate = le32(i + 12).toInt
        bits = le16(i + 22)
      } else if (id == "data" && dataOff < 0) {
        dataOff = i + 8
        dataLen = math.min(sz, (payload.length - dataOff).toLong).toInt
      }
      if (sz > payload.length) i = payload.length // corrupt size: end walk
      else i += 8 + sz.toInt + (sz.toInt & 1)
    }
    if (audioFormat != 1 || bits != 16 || channels <= 0 || sampleRate <= 0 ||
        dataOff < 0) return null
    val n = dataLen / 2 // truncate a ragged trailing byte
    val samples = new Array[Short](n)
    var k = 0
    while (k < n) {
      samples(k) = (u8(dataOff + 2 * k) | (u8(dataOff + 2 * k + 1) << 8)).toShort
      k += 1
    }
    PcmAudio(sampleRate, channels, samples)
  }

  /** Encode 16-bit PCM samples as a canonical RIFF/WAVE file, with an
    * optional JUNK filler chunk between fmt and data (real recorders emit
    * alignment filler; fixtures use it so only a true chunk WALK — not
    * fixed offsets — finds the samples). */
  def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short],
      junkBytes: Int = 0): Array[Byte] = {
    require(sampleRate > 0 && channels > 0, "invalid format")
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
    def le32(v: Long): Unit = {
      out.write((v & 0xff).toInt); out.write(((v >>> 8) & 0xff).toInt)
      out.write(((v >>> 16) & 0xff).toInt); out.write(((v >>> 24) & 0xff).toInt)
    }
    def ascii(s: String): Unit =
      out.write(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val dataLen = samples.length * 2
    val junkChunk = if (junkBytes > 0) 8 + junkBytes + (junkBytes & 1) else 0
    ascii("RIFF"); le32(4 + 24 + junkChunk + 8 + dataLen); ascii("WAVE")
    ascii("fmt "); le32(16)
    le16(1); le16(channels); le32(sampleRate)
    le32(sampleRate.toLong * channels * 2); le16(channels * 2); le16(16)
    if (junkBytes > 0) {
      ascii("JUNK"); le32(junkBytes)
      var j = 0
      while (j < junkBytes + (junkBytes & 1)) { out.write(0); j += 1 }
    }
    ascii("data"); le32(dataLen)
    var k = 0
    while (k < samples.length) { le16(samples(k) & 0xffff); k += 1 }
    out.toByteArray
  }

  /** Deterministic WAV fixture: mono 8 kHz, `240 + 40·(id mod 7)` samples
    * of the closed form `s(i) = ((7·id + 13·i) mod 2048) − 1024`, behind
    * a 5-byte JUNK chunk — SQL-replayable, but only through a real chunk
    * walk + little-endian s16 decode. */
  def wavFixture(id: Long): Array[Byte] = {
    val n = (240 + (id % 7) * 40).toInt
    val samples = Array.tabulate(n)(i => (((7L * id + 13L * i) % 2048L) - 1024L).toShort)
    encodeWav(8000, 1, samples, junkBytes = 5)
  }

  /** Near-duplicate JPEG of group `g`, variant `j`: a 72×64 image of
    * constant 8×8 blocks whose variants differ only in the top-left
    * block. 72 = 9·8 and 64 = 8·8, so every dHash box is exactly one
    * constant block: the hash is a closed form of the block values and
    * the oracle needs no pixel grid at all. */
  def groupJpeg(g: Int, j: Int): Array[Byte] =
    Jpeg.encode(72, 64, (x, y) => {
      val bx = x / 8; val byy = y / 8
      (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 13 * g) % 97) + 28 +
        (if (bx == 0 && byy == 0) j else 0)
    })

  /** [[groupJpeg]]'s video twin: an `nf`-frame 72×64 animated GIF whose
    * block values also step by 29 per frame. */
  def groupGif(g: Int, j: Int, nf: Int): Array[Byte] =
    encodeAnimatedGif(72, 64, nf,
      (f, x, y) => {
        val bx = x / 8; val byy = y / 8
        (((37 + 11 * g) * bx + (23 + 7 * g) * byy + 29 * f +
          13 * g) % 97) +
          (if (bx == 0 && byy == 0) j else 0)
      })

  /** [[groupJpeg]]'s audio twin: mono 8 kHz, `240 + 40·(g mod 7)`
    * samples of `((7g + 13i) mod 2048) − 1024`, variant `j` added to the
    * first four samples. */
  def groupWav(g: Int, j: Int): Array[Byte] = {
    val n = (240 + (g % 7) * 40).toInt
    val samples = Array.tabulate(n)(i =>
      ((((7L * g + 13L * i) % 2048L) - 1024L) +
        (if (i < 4) j else 0)).toShort)
    encodeWav(8000, 1, samples)
  }

  /** Spectral near-duplicate PNG of group `g`: variant 0 is the base
    * grayscale raster, 1 the same raster upscaled 2× and brightened by 3,
    * 2 a contrast stretch (2v − 5). */
  def spectralPng(g: Int, j: Int): Array[Byte] = {
    val w0 = (24 + (g % 5) * 4).toInt
    val h0 = (18 + (g % 3) * 6).toInt
    def f(x: Int, y: Int): Int =
      ((7L * x + 13L * y + 3L * g) % 97L + 20L).toInt
    j match {
      case 0 => encodePng(w0, h0, 1,
        (x, y, _) => f(x, y))
      case 1 => encodePng(2 * w0, 2 * h0, 1,
        (x, y, _) => f(x / 2, y / 2) + 3)
      case _ => encodePng(w0, h0, 1,
        (x, y, _) => 2 * f(x, y) - 5)
    }
  }

  /** [[spectralPng]]'s audio twin: variant 1 is the base clip resampled
    * 2× and offset by 3, variant 2 a gain stretch (2s − 5). */
  def spectralWav(g: Int, j: Int): Array[Byte] = {
    val n0 = (240 + (g % 7) * 40).toInt
    def f(i: Int): Long = ((7L * g + 13L * i) % 2048L) - 1024L
    val samples = j match {
      case 0 => Array.tabulate(n0)(i => f(i).toShort)
      case 1 => Array.tabulate(2 * n0)(i => (f(i / 2) + 3L).toShort)
      case _ => Array.tabulate(n0)(i => (2L * f(i) - 5L).toShort)
    }
    encodeWav(8000, 1, samples)
  }

  /** `ids` (one doc_id column) plus a `payload` column of
    * `fixture(doc_id)`, encoded one partition at a time: the binary
    * corpus the multimodal queries decode. */
  def payloadCorpus(ids: DataFrame, fixture: Long => Array[Byte]): DataFrame =
    ids.mapPartitions { rows =>
      rows.map(r => Row(r.getLong(0), fixture(r.getLong(0))))
    }(Encoders.row(ids.schema.add("payload", BinaryType)))

  /** Per-frame features produced by [[audioFrameFeatures]]: 0-based frame
    * index, sample count (last frame may be partial), exact integer
    * energy (Σ s²), strict zero-crossing count (s[i−1]·s[i] < 0 within
    * the frame), and peak amplitude — the inputs to silence trimming,
    * voice-activity gating, and loudness normalization. */
  val AudioFrameSchema: StructType = StructType(Seq(
    StructField("frame_ix", IntegerType, nullable = false),
    StructField("n_samples", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false),
    StructField("zero_cross", IntegerType, nullable = false),
    StructField("max_abs", IntegerType, nullable = false),
  ))

  /** Frame-level audio feature extraction over WAV payloads: decode the
    * 16-bit PCM stream ([[decodeWavPcm]]) and reduce channel 0 to
    * non-overlapping `frameSamples`-sample frames of integer features
    * (all sums exact — no float drift between engines). Adds an
    * `aframes` array column ([[AudioFrameSchema]]); null for non-PCM /
    * corrupt payloads. One narrow mapPartitions, no shuffle: audio never
    * leaves the partition, only features ~frameSamples-fold smaller do. */
  def audioFrameFeatures(df: DataFrame, payloadCol: String,
      frameSamples: Int): DataFrame = {
    require(frameSamples >= 2, s"frameSamples must be >= 2, got $frameSamples")
    withPayloadColumn(df, payloadCol, StructField("aframes",
        ArrayType(AudioFrameSchema, containsNull = false), nullable = true)) {
      payload =>
      val pcm = decodeWavPcm(payload)
      if (pcm == null) null else {
        val stride = pcm.channels // channel 0 of the interleave
        val n = pcm.samples.length / stride
        (0 until (n + frameSamples - 1) / frameSamples).map { f =>
          val lo = f * frameSamples
          val hi = math.min(lo + frameSamples, n)
          var sumSq = 0L; var zc = 0; var maxAbs = 0
          var i = lo
          while (i < hi) {
            val v = pcm.samples(i * stride).toInt
            sumSq += v.toLong * v
            val a = math.abs(v)
            if (a > maxAbs) maxAbs = a
            if (i > lo && pcm.samples((i - 1) * stride).toInt * v < 0) zc += 1
            i += 1
          }
          Row(f, hi - lo, sumSq, zc, maxAbs)
        }
      }
    }
  }

  /** Image RESIZE: box-filter downscale of each PNG payload by an integer
    * `factor` (output pixel = integer mean, sum div factor², over its
    * factor×factor source tile; partial edge tiles drop — the fixed-grid
    * rule patchMeans uses), re-encoded as a real PNG into a `resized`
    * binary column. The thumbnail/tile pass of an image pipeline: one
    * narrow mapPartitions, decode → reduce → encode per row, output
    * payloads factor²-fold smaller; null for corrupt payloads or images
    * smaller than one tile. */
  def resizePng(df: DataFrame, payloadCol: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val area = factor * factor
    withPayloadColumn(df, payloadCol,
        StructField("resized", BinaryType, nullable = true)) { payload =>
      val raster = decodePngRaster(payload)
      if (raster == null) null else {
        val ow = raster.w / factor
        val oh = raster.h / factor
        if (ow == 0 || oh == 0) null
        else encodePng(ow, oh, raster.channels, (x, y, c) => {
          var s = 0
          var dy = 0
          while (dy < factor) {
            var dx = 0
            while (dx < factor) {
              s += raster.pixel(x * factor + dx, y * factor + dy, c)
              dx += 1
            }
            dy += 1
          }
          s / area
        })
      }
    }
  }

  /** Audio RESAMPLE: integer-factor decimation of each WAV payload's
    * channel 0 (keep every `factor`-th sample — the cheap anti-aliasing-
    * free downsample; a production pipeline low-passes first, which is a
    * per-row FIR this same loop would host), re-encoded as a real mono
    * WAV at sampleRate/factor into a `resampled` binary column. Null for
    * non-PCM / corrupt payloads. */
  def resampleWav(df: DataFrame, payloadCol: String, factor: Int): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    withPayloadColumn(df, payloadCol,
        StructField("resampled", BinaryType, nullable = true)) { payload =>
      val pcm = decodeWavPcm(payload)
      if (pcm == null || pcm.sampleRate / factor == 0) null
      else {
        val stride = pcm.channels
        val n = pcm.samples.length / stride
        val kept = Array.tabulate((n + factor - 1) / factor)(i =>
          pcm.samples(i * factor * stride))
        encodeWav(pcm.sampleRate / factor, 1, kept)
      }
    }
  }

  /** Decode a binary payload column into a `meta` struct column (null
    * for a null payload) — no shuffle, scales with the scan. */
  def decode(df: DataFrame, payloadCol: String): DataFrame =
    withPayloadColumn(df, payloadCol,
      StructField("meta", MetaSchema, nullable = true)) { payload =>
      if (payload == null) null else decodeMeta(payload)
    }
}
