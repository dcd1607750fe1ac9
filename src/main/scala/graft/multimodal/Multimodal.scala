package graft.multimodal

import graft.Q
import graft.ops.Tables
import graft.ops.Num.{r6, r6Sql}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video as opaque `binary` payloads with
  * typed metadata, plus the decode / feature-extract / resize / frame-sample
  * plumbing a training-data pipeline runs over them.
  *
  * The decode step is a STUB — this container has no image/audio codecs —
  * but everything Spark-side is real: the schema, the typed Dataset shape,
  * per-partition batch processing (the shape a vectorized decoder needs:
  * amortize codec init across a partition, not per row), and deterministic
  * outputs so the pipeline is testable. A production build swaps
  * [[StubCodec.decode]] for a JNI/javacpp codec without touching any plan.
  *
  * Test payloads are derived from documents.text (UTF-8 bytes) since the
  * testdata ships no real media; the plumbing is payload-agnostic.
  */
object Multimodal {
  /** One media object: opaque payload + typed metadata. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Decoded (stub) features: fixed-size descriptor per media object. */
  case class MediaFeatures(doc_id: Long, media_type: String, width: Int, height: Int,
                           n_frames: Int, feature: Array[Float])

  val ChunkBytes = 4096
  val FrameStride = 4

  /** Deterministic media-type derivation from the source column — ONE
    * definition behind [[fromDocuments]], [[mediaMeta]] and
    * [[mediaDocFeaturesOn]] (the SQL twin is `mediaTypeSql`). */
  private def mediaTypeCol: Column =
    element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(conv(substring(md5(col("source")), 1, 4), 16, 10).cast("long"), lit(3)) + lit(1)).cast("int"))

  /** documents → media records: payload = UTF-8 bytes, media type derived
    * deterministically from the source column. */
  def fromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id"),
        mediaTypeCol.as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** STUB codec — deterministic fake standing in for libjpeg/ffmpeg.
    * Real implementation: decode payload, emit true dims + embedding. */
  object StubCodec {
    /** Fake "decode": dims/frames from payload bytes, features = windowed
      * byte means. Deterministic, pure, cheap — the contract a real codec
      * must also satisfy (no global state, reusable per partition). */
    def decode(payload: Array[Byte], mediaType: String): (Int, Int, Int, Array[Float]) = {
      val n = payload.length
      val width = 16 + (if (n == 0) 0 else (payload(0) & 0x7f))
      val height = 16 + (if (n < 2) 0 else (payload(1) & 0x7f))
      val nFrames = if (mediaType == "video") 1 + n / ChunkBytes else 1
      val dim = 8
      val feature = Array.ofDim[Float](dim)
      if (n > 0) {
        val window = math.max(1, n / dim)
        var i = 0
        while (i < dim) {
          var s = 0L; var c = 0
          var j = i * window
          while (j < math.min(n, (i + 1) * window)) { s += (payload(j) & 0xff); c += 1; j += 1 }
          feature(i) = if (c == 0) 0f else s.toFloat / c
          i += 1
        }
      }
      (width, height, nFrames, feature)
    }
  }

  /** Decode/feature-extract over partitions: codec "initialized" once per
    * partition (the expensive part for real codecs), then streamed over the
    * iterator — never materializing the partition in memory. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real codec: open once here, close via it's final map — stub is free
      it.map { m =>
        val (w, h, f, feat) = StubCodec.decode(m.payload, m.media_type)
        MediaFeatures(m.doc_id, m.media_type, w, h, f, feat)
      }
    }
  }

  /** Frame sampling: chunk the payload into ChunkBytes frames, keep every
    * FrameStride-th — flatMap keeps it streaming (one output row per kept
    * frame, never the whole frame list in memory). The frame checksum is
    * the engine-portable 28-bit md5 of the frame's HEX form (byte slicing
    * isn't expressible over DuckDB blobs, hex slicing is plain VARCHAR
    * arithmetic on both engines), which is what makes [[frameSample]]
    * oracle-checkable rather than rows-only. */
  case class Frame(doc_id: Long, frame_idx: Int, n_bytes: Int, checksum: Long)

  private val HexDigits = "0123456789ABCDEF".toCharArray

  def sampleFrames(media: Dataset[MediaRecord]): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val n = m.payload.length
      val nChunks = (n + ChunkBytes - 1) / ChunkBytes
      (0 until nChunks).iterator.filter(_ % FrameStride == 0).map { i =>
        val lo = i * ChunkBytes
        val hi = math.min(n, lo + ChunkBytes)
        val hex = new Array[Char]((hi - lo) * 2)
        var j = lo
        while (j < hi) {
          val b = m.payload(j) & 0xff
          hex((j - lo) * 2) = HexDigits(b >> 4)
          hex((j - lo) * 2 + 1) = HexDigits(b & 0xf)
          j += 1
        }
        Frame(m.doc_id, i, hi - lo, graft.functions.KmvSketch.hash28(new String(hex)))
      }
    }
  }

  /** "Resize": deterministic feature downsample (mean-pool pairs) — the
    * plumbing slot where a real resize kernel goes. */
  def resize(features: Dataset[MediaFeatures], outDim: Int): Dataset[MediaFeatures] = {
    import features.sparkSession.implicits._
    features.map { f =>
      val in = f.feature
      if (in.isEmpty) f.copy(width = outDim, height = outDim, feature = Array.ofDim[Float](outDim))
      else {
      val out = Array.tabulate(outDim) { i =>
        val lo = i * in.length / outDim
        val hi = math.max(lo + 1, (i + 1) * in.length / outDim)
        var s = 0f; var j = lo
        while (j < hi) { s += in(j); j += 1 }
        s / (hi - lo)
      }
      f.copy(width = outDim, height = outDim, feature = out)
      }
    }
  }

  /** Oracle-able metadata query: byte sizes, content hash, chunk counts and
    * a header fingerprint — the part of the media pipeline both engines can
    * compute from the same parquet. (DuckDB 1.0 has no blob md5/substring,
    * so hashes go through the text form; bytes and chars differ and both
    * sides use octet/char-aware functions accordingly.) */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaMetaOn(Tables.documents(spark, dir))

  /** Caller-supplied-frame form of [[mediaMeta]]. */
  def mediaMetaOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(
        col("doc_id"),
        mediaTypeCol.as("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("content_md5"),
        ceil(length(col("payload")) / lit(ChunkBytes.toDouble)).cast("long").as("n_chunks"),
        hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("header_hex"))

  /** Doc-LOCAL manifest state of one document: payload byte count (same
    * expression as [[mediaMetaOn]]'s n_bytes) and the content-hash split
    * assignment — every column a pure function of the document, so the
    * incremental manifest recomputes this row only for the fresh slice
    * and carries the rest ([[mediaManifestUpdateOn]]). The split is the
    * doc's OWN registered `t_split` rule ([[graft.ext.Corpus.splitAssign]]
    * — content-hash 90/5/5): exact media duplicates land in one split and
    * a re-ingest that assigns fresh doc_ids cannot move a payload across
    * the train/test boundary. It is deliberately the doc-LOCAL half of
    * the story — the composed manifest ([[mmManifestFromState]]) inherits
    * each cluster's canonical's own split so perceptual near-dups cannot
    * span splits either; storing the own split keeps this row a pure
    * function of the document (the carry contract). */
  def mmDocLocalOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"),
      graft.ext.Corpus.splitAssign.as("split"))

  /** Per-document media FEATURE WAREHOUSE row: the metadata columns of
    * [[mediaMeta]] joined with the decoded (stub codec) + resized
    * per-document descriptor summary that `mm_feature_pipeline`
    * aggregates. Every column is a pure function of the document, so
    * stream-time rows are final — this is the table a media ingest
    * pipeline appends to as objects arrive
    * ([[graft.streaming.Streams.eachBatch]] streams batches through
    * exactly this function), and the registered per-type report
    * is a re-aggregation of it (StreamsSpec pins both: union of per-batch
    * rows ≡ this table over the full corpus, and its rollup ≡
    * `mm_feature_pipeline`). */
  def mediaDocFeaturesOn(docs: DataFrame): DataFrame = {
    val feats = resize(decodeFeatures(fromDocuments(docs)), 4).toDF()
      .select(col("doc_id"), col("width"), col("n_frames"),
        aggregate(col("feature"), lit(0.0), (a, x) => a + x.cast("double")).as("feat_sum"))
    mediaMetaOn(docs).join(feats, Seq("doc_id"))
  }

  // Shared hex-arithmetic SQL builders for the oracle twins — ONE
  // definition behind mediaMetaSql / featurePipelineSql / phashDedupSql so
  // the media-type derivation and the hex byte reads cannot desynchronize
  // across oracles. `byteAtSql` reads 0-based payload byte `j` from the
  // hex form `hx`; `winSumSql`/`winCntSql` sum/count the unsigned bytes of
  // feature window `i` given window width `w` and payload length `n`.
  private val mediaTypeSql =
    "['image', 'audio', 'video'][(('0x' || substr(md5(source), 1, 4))::BIGINT % 3 + 1)::INT]"
  private def byteAtSql(j: String) =
    s"('0x' || substr(hx, CAST($j * 2 + 1 AS BIGINT), 2))::BIGINT"
  private val winSumSql =
    s"coalesce(list_sum(list_transform(generate_series(CAST(i * w AS BIGINT), CAST(least(n, (i + 1) * w) - 1 AS BIGINT)), j -> ${byteAtSql("j")})), 0)"
  private val winCntSql = "greatest(least(n, (i + 1) * w) - i * w, 0)"

  val mediaMetaSql: String =
    s"""SELECT doc_id,
       |       $mediaTypeSql AS media_type,
       |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       |       md5(text) AS content_md5,
       |       CAST(ceil(octet_length(encode(text)) / ${ChunkBytes.toDouble}) AS BIGINT) AS n_chunks,
       |       hex(encode(substring(text, 1, 8))) AS header_hex
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Feature pipeline as a registered ORACLED query: media → stub decode →
    * resize → per-type feature stats. The stub's arithmetic is integer byte
    * sums + two float roundings, both emulable in the oracle: bytes read as
    * hex slices, float ops as double ops rounded through REAL (a float add
    * of two floats is exact in double then rounds identically; the one
    * float division double-rounds with negligible corner probability). */
  def featurePipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = resize(decodeFeatures(fromDocuments(Tables.documents(spark, dir))), 4)
    feats.toDF()
      .select(col("doc_id"), col("media_type"), col("width"), col("n_frames"),
        aggregate(col("feature"), lit(0.0), (a, x) => a + x.cast("double")).as("feat_sum"))
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_docs"), sum("n_frames").cast("long").as("total_frames"),
        r6(avg(col("feat_sum"))).as("avg_feat_sum"))
  }

  /** Frame-sampling stats as a registered ORACLED query: media → chunked
    * frames → keep every FrameStride-th → per-bucket counts. Exercises the
    * streaming flatMap path end-to-end under the driver gate, and the
    * portable hex-slice checksum lets DuckDB reproduce every frame hash. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(fromDocuments(Tables.documents(spark, dir))).toDF()
      .groupBy((col("doc_id") % lit(10)).as("doc_bucket"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("n_bytes")).cast("long").as("total_bytes"),
        countDistinct(col("checksum")).as("n_distinct_checksums"))
  }

  /** Oracle twin of [[featurePipeline]]. Mirrors StubCodec.decode +
    * resize(4) exactly: window = max(1, n/8) bytes, feature_i = mean of
    * window i's unsigned bytes as REAL, resize pairs (f_2i + f_2i+1)/2 as
    * REAL, feat_sum = left-fold double sum of the 4 resized components. */
  lazy val featurePipelineSql: String = {
    s"""WITH m AS (
       |  SELECT doc_id, $mediaTypeSql AS media_type,
       |         hex(encode(text)) AS hx, octet_length(encode(text)) AS n
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, media_type, n, hx,
       |         CASE WHEN media_type = 'video' THEN 1 + n // $ChunkBytes ELSE 1 END AS n_frames,
       |         greatest(1, n // 8) AS w
       |  FROM m),
       |feat AS (
       |  SELECT doc_id, media_type, n_frames,
       |         list_transform(generate_series(0, 7), i ->
       |           CASE WHEN n = 0 OR $winCntSql = 0 THEN CAST(0 AS REAL)
       |                ELSE CAST(CAST($winSumSql AS REAL) / CAST($winCntSql AS REAL) AS REAL) END) AS f
       |  FROM d),
       |rs AS (
       |  SELECT doc_id, media_type, n_frames,
       |         list_transform(generate_series(0, 3), i ->
       |           CAST(CAST((CAST(f[2 * i + 1] AS DOUBLE) + CAST(f[2 * i + 2] AS DOUBLE)) AS REAL) / 2 AS REAL)) AS o
       |  FROM feat),
       |per AS (
       |  SELECT doc_id, media_type, n_frames,
       |         CAST(o[1] AS DOUBLE) + CAST(o[2] AS DOUBLE) + CAST(o[3] AS DOUBLE) + CAST(o[4] AS DOUBLE) AS feat_sum
       |  FROM rs)
       |SELECT media_type, count(*) AS n_docs, CAST(sum(n_frames) AS BIGINT) AS total_frames,
       |       ${r6Sql("avg(feat_sum)")} AS avg_feat_sum
       |FROM per GROUP BY media_type ORDER BY media_type""".stripMargin
  }

  /** Hex-slice frame twin: hex(payload) is 2 chars per byte, so frame i is
    * substr(hx, i*2*ChunkBytes + 1, 2*ChunkBytes) — plain VARCHAR ops. */
  val frameSampleSql: String = {
    val hc = 2 * ChunkBytes
    s"""WITH m AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
       |ch AS (SELECT doc_id, hx, CAST(ceil(length(hx) / $hc.0) AS BIGINT) AS n_chunks FROM m),
       |ix AS (
       |  SELECT doc_id, hx, unnest(generate_series(0, n_chunks - 1)) AS i
       |  FROM ch),
       |fr AS (
       |  SELECT doc_id,
       |         CAST(length(substr(hx, CAST(i * $hc + 1 AS BIGINT), $hc)) / 2 AS BIGINT) AS n_bytes,
       |         ('0x' || substr(md5(substr(hx, CAST(i * $hc + 1 AS BIGINT), $hc)), 1, 7))::BIGINT AS checksum
       |  FROM ix
       |  WHERE i % $FrameStride = 0)
       |SELECT doc_id % 10 AS doc_bucket, count(*) AS n_frames,
       |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       |       count(DISTINCT checksum) AS n_distinct_checksums
       |FROM fr
       |GROUP BY 1 ORDER BY doc_bucket""".stripMargin
  }

  // -------------------------------------------- perceptual-hash dedup
  /** Integer perceptual hash over the payload: bit i is set iff byte
    * window i's mean exceeds the whole-payload mean, compared by integer
    * CROSS-MULTIPLICATION (winSum·n > total·winCnt) so no float ever
    * enters the hash — both engines agree bit for bit. This is the
    * aHash/pHash shape (a real deployment swaps in a 64-bit DCT hash over
    * decoded pixels via the per-partition codec); the dedup itself is one
    * (media_type, phash) hash aggregate — the image-dedup plan at 100 TB
    * is a groupBy, never a pairwise compare. */
  def phash(payload: Array[Byte]): Int = {
    val n = payload.length
    if (n == 0) return 0
    val w = math.max(1, n / 8)
    var total = 0L
    var j = 0
    while (j < n) { total += (payload(j) & 0xff); j += 1 }
    var code = 0
    var i = 0
    while (i < 8) {
      var s = 0L; var c = 0L
      var k = i * w
      val end = math.min(n, (i + 1) * w)
      while (k < end) { s += (payload(k) & 0xff); c += 1; k += 1 }
      if (s * n > total * c) code |= 1 << i
      i += 1
    }
    code
  }

  case class MediaHash(doc_id: Long, media_type: String, phash: Long)

  def phashOn(media: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.map(m => MediaHash(m.doc_id, m.media_type, phash(m.payload).toLong)))
  }

  /** Registered dedup query: hash groups with more than one member are the
    * near-dup candidate clusters (toy 8-bit hash space on the stub codec;
    * the group-by shape is unchanged at 64 bits). */
  def phashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    phashOn(fromDocuments(Tables.documents(spark, dir))).toDF()
      .groupBy("media_type", "phash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
      .filter(col("n_docs") > 1)
  }

  /** Oracle twin: payload bytes via the proven hex-slice route; the same
    * integer cross-multiplication decides every bit. */
  val phashDedupSql: String = {
    s"""WITH m AS (
       |  SELECT doc_id, $mediaTypeSql AS media_type, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, media_type, hx, n, greatest(1, n // 8) AS w,
       |         coalesce(list_sum(list_transform(generate_series(0, CAST(n - 1 AS BIGINT)), j -> ${byteAtSql("j")})), 0) AS total
       |  FROM m),
       |ph AS (
       |  SELECT doc_id, media_type,
       |         CAST(CASE WHEN n = 0 THEN 0 ELSE
       |           coalesce(list_sum(list_transform(generate_series(0, 7), i ->
       |             CASE WHEN $winSumSql * n > total * $winCntSql THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)), 0)
       |         END AS BIGINT) AS phash
       |  FROM d)
       |SELECT media_type, phash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
       |FROM ph GROUP BY 1, 2 HAVING count(*) > 1
       |ORDER BY media_type, phash""".stripMargin
  }

  // -------------------------------------- 64-bit DCT perceptual hash dedup
  /** Real pHash (the DCT upgrade the [[phash]] scaladoc promised): payload →
    * 8×8 integer pixel grid (byte-window floor-means — the stub decode's
    * grayscale role) → exact 2-D DCT-II in Q14 FIXED POINT → bit (u,v) set
    * iff that coefficient exceeds the AC mean, compared by
    * cross-multiplication (coef·63 > ΣAC) so no division or float touches
    * any bit.
    *
    * The basis constants are computed ONCE here (correctly-rounded
    * cos·2^14) and spliced verbatim into the oracle SQL — the
    * [[graft.ext.Dedup.hashAOf]] convention — so both engines fold
    * identical integers in identical order; every intermediate fits a
    * signed 64-bit value (pixel ≤ 255, |coef| ≤ 8²·2^28·255 < 2^43,
    * |coef·63| < 2^49). Brightness shifts move only the DC coefficient
    * (bit 0), contrast scaling preserves every compare (both sides scale
    * by k > 0), and byte-duplication "resizes" leave the pixel grid
    * intact — the invariances MultimodalSpec pins. */
  val DctN = 8
  val DctScaleBits = 14
  /** Q14 DCT-II basis: basis(k)(x) = round(cos(π(2x+1)k/16)·2^14). */
  val DctBasis: Array[Array[Long]] = Array.tabulate(DctN, DctN)((k, x) =>
    math.round(math.cos(math.Pi * (2 * x + 1) * k / (2.0 * DctN)) * (1L << DctScaleBits)))

  /** Payload → 64 integer "pixels": floor-mean of byte window i (window
    * width n/64) — deterministic, codec-shaped (a real decoder emits the
    * resized grayscale grid here). */
  def pixels64(payload: Array[Byte]): Array[Long] = {
    val n = payload.length
    val out = new Array[Long](64)
    if (n == 0) return out
    val w = math.max(1, n / 64)
    var i = 0
    while (i < 64) {
      var s = 0L; var c = 0L
      var j = i * w
      val end = math.min(n, (i + 1) * w)
      while (j < end) { s += (payload(j) & 0xff); c += 1; j += 1 }
      out(i) = if (c == 0) 0L else s / c
      i += 1
    }
    out
  }

  /** Exact integer 2-D DCT-II over the 8×8 grid + AC-mean thresholding →
    * 64-bit hash. Separable factoring (row pass then column pass) — the
    * integer result is identical to the flat Σ_x Σ_y double sum the oracle
    * computes, because integer arithmetic is associative. */
  def dctHash64(pix: Array[Long]): Long = {
    require(pix.length == 64, s"expected 64 pixels, got ${pix.length}")
    val y = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) {
          var t = 0L
          var yy = 0
          while (yy < 8) { t += DctBasis(v)(yy) * pix(x * 8 + yy); yy += 1 }
          acc += DctBasis(u)(x) * t
          x += 1
        }
        y(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    var sumAc = 0L
    var i = 1
    while (i < 64) { sumAc += y(i); i += 1 }
    var code = 0L
    i = 0
    while (i < 64) { if (y(i) * 63 > sumAc) code |= 1L << i; i += 1 }
    code
  }

  def dctHash(payload: Array[Byte]): Long = dctHash64(pixels64(payload))

  def dctHashOn(media: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.map(m => MediaHash(m.doc_id, m.media_type, dctHash(m.payload))))
  }

  /** Bands of the 64-bit hash for the candidate join ([[graft.ext.Dedup
    * .simhashPairsOn]]'s shape): 4 × 16 bits, hamming ≤ [[DctHamMax]]. */
  val DctBands = 4
  val DctHamMax = 8

  /** 4 × 16-bit band keys of a (doc_id, phash) frame — the one banding
    * definition behind the batch pairing and the incremental
    * candidates-against form, so the two can't drift. */
  private def dctBands(fp: DataFrame): DataFrame = {
    val bandBits = 64 / DctBands
    val mask = (1L << bandBits) - 1
    fp.select(col("doc_id"), col("phash"), explode(array((0 until DctBands).map { k =>
      struct(lit(k).as("band_idx"),
        shiftright(col("phash"), k * bandBits).bitwiseAND(lit(mask)).as("band"))
    }: _*)).as("b")).select(col("doc_id"), col("phash"), col("b.band_idx"), col("b.band"))
  }

  /** Banded candidate pairs with their full hamming distance — the shared
    * stage behind the dedup cut, the threshold curve, and (re-pointed at a
    * snapshot slice) the warehouse family's from-scratch oracle twin. */
  private[graft] def dctBandPairsOn(docs: DataFrame): DataFrame = {
    val bands = dctBands(dctHashOn(fromDocuments(docs)).toDF())
    bands.as("l").join(bands.as("r"),
        col("l.band_idx") === col("r.band_idx") && col("l.band") === col("r.band")
          && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.phash").bitwiseXOR(col("r.phash"))).cast("long").as("hamming"))
      .distinct()
  }

  private def dctBandPairs(spark: SparkSession, dir: String): DataFrame =
    dctBandPairsOn(Tables.documents(spark, dir))

  /** Incremental candidates: banded pairs between NEW hashes and the full
    * hash set (old ∪ new), normalized to doc_a < doc_b, with the exact
    * hamming distance. Every pair here involves at least one new media
    * object, so a stream calling this per micro-batch emits each unordered
    * pair exactly once — the [[graft.ext.Dedup.minhashCandidatesAgainst]]
    * contract ([[graft.streaming.Streams.mediaDedupBatches]]). */
  def dctCandidatesAgainst(newFp: DataFrame, allFp: DataFrame): DataFrame =
    dctBands(newFp).as("l").join(dctBands(allFp).as("r"),
        col("l.band_idx") === col("r.band_idx") && col("l.band") === col("r.band")
          && col("l.doc_id") =!= col("r.doc_id"))
      .select(least(col("l.doc_id"), col("r.doc_id")).as("doc_a"),
        greatest(col("l.doc_id"), col("r.doc_id")).as("doc_b"),
        bit_count(col("l.phash").bitwiseXOR(col("r.phash"))).cast("long").as("hamming"))
      .distinct()

  /** Registered DCT near-dup pairing: band-bucketed candidate join over the
    * 64-bit hashes, exact hamming verify — never an all-pairs compare; at
    * 100 TB the pair volume is bounded by band-bucket collisions exactly as
    * in the simhash pairing, and the hash itself is one codec-local pass. */
  def dctDedup(spark: SparkSession, dir: String): DataFrame =
    dctBandPairs(spark, dir)
      .filter(col("hamming") <= lit(DctHamMax))

  /** Curve depth: hamming levels 0..16 reported (one band's worth of bits). */
  val HcLevels = 16

  /** Hamming-threshold tuning curve for the DCT perceptual hash — the
    * multimodal twin of `dd_threshold_curve` / `s_nprobe_curve`: banded
    * candidate mass per hamming distance 0..[[HcLevels]] with the
    * cumulative survivor count at every possible [[DctHamMax]] cut, so
    * retuning the near-dup radius is a table read. `is_complete` marks
    * the distances where [[DctBands]]-band blocking is EXHAUSTIVE by
    * pigeonhole (hamming < bands forces a shared band); beyond it the
    * counts are the candidate subset an LSH deliberately trades for —
    * the same honesty flag `dd_lsh_recall` carries for MinHash. */
  def hammingCurve(spark: SparkSession, dir: String): DataFrame = {
    val hist = dctBandPairs(spark, dir)
      .groupBy("hamming").agg(count(lit(1)).as("n"))
    val w = Window.orderBy("hamming")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.range(0, HcLevels + 1).select(col("id").as("hamming"))
      .join(hist, Seq("hamming"), "left")
      .withColumn("n_pairs", coalesce(col("n"), lit(0L)))
      .withColumn("n_cum", sum("n_pairs").over(w))
      .select(col("hamming"), col("n_pairs"), col("n_cum"),
        (col("hamming") < lit(DctBands.toLong)).as("is_complete"))
  }

  // --------------------------------------------- media decontamination
  /** Media benchmark DECONTAMINATION — the multimodal twin of
    * `t_decontaminate_fuzzy` (GPT-3 App. C's discipline carried to the
    * media modality): a training-set media object whose payload is a
    * PERCEPTUAL near-dup of an eval-suite object (banded DCT hash,
    * hamming ≤ `hamMax`) turns the eval into a memorization probe —
    * recompressions and brightness variants of a benchmark image defeat
    * exact-hash matching exactly as light edits defeat exact n-grams for
    * text. Output is a full train-side manifest: (doc_id, n_eval_matches,
    * min_hamming, keep) for EVERY training object; `min_hamming` is 64
    * (the hash width — farther than any real pair) when no banded
    * candidate matched.
    *
    * 100 TB design, as in the text twin: eval suites are tiny next to the
    * corpus, so the eval band table BROADCASTS and the candidate join is
    * band-bucketed on the corpus side — one codec pass per side, zero
    * corpus-sized joins, and the final manifest join carries
    * (doc_id, long, long), never a payload. Stateless per micro-batch of
    * [[graft.streaming.Streams.eachBatch]]. */
  def mediaDecontaminateAgainstOn(train: DataFrame, evalDocs: DataFrame,
                                  hamMax: Int = DctHamMax): DataFrame = {
    val bt = dctBands(dctHashOn(fromDocuments(train)).toDF())
    val be = dctBands(dctHashOn(fromDocuments(evalDocs)).toDF())
      .select(col("doc_id").as("eval_id"), col("phash").as("e_phash"),
        col("band_idx"), col("band"))
    val hits = bt.join(broadcast(be), Seq("band_idx", "band"))
      .select(col("doc_id"), col("eval_id"),
        bit_count(col("phash").bitwiseXOR(col("e_phash"))).cast("long").as("hamming"))
      .distinct() // a pair can collide in several bands; hamming is pair-functional
      .filter(col("hamming") <= lit(hamMax.toLong))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_matches"), min(col("hamming")).as("min_hamming"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        coalesce(col("min_hamming"), lit(64L)).as("min_hamming"),
        col("n_eval_matches").isNull.as("keep"))
  }

  /** Registered form: the deterministic doc_id slice stands in as the eval
    * set — the SAME [[graft.ext.Corpus.BenchSlice]] as `t_decontaminate` /
    * `t_decontaminate_fuzzy`, so the text and media contamination
    * manifests are directly comparable row-for-row. */
  def mediaDecontaminateOn(docs: DataFrame): DataFrame =
    mediaDecontaminateAgainstOn(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= lit(graft.ext.Corpus.BenchSlice)),
      docs.filter(pmod(col("doc_id"), lit(10)) === lit(graft.ext.Corpus.BenchSlice)))

  def mediaDecontaminate(spark: SparkSession, dir: String): DataFrame =
    mediaDecontaminateOn(Tables.documents(spark, dir))

  /** Oracle: the shared hash/band chain over ALL documents (the two
    * slices partition it), cross-slice banded candidates, the identical
    * min-hamming manifest. Lazy per the folding-guard rule. */
  lazy val mediaDecontaminateSql: String =
    s"""WITH ${dctPairsCtesBodyFor("documents")},
       |cand AS (
       |  SELECT DISTINCT l.doc_id, r.doc_id AS eval_id,
       |         bit_count(xor(l.phash, r.phash)) AS hamming
       |  FROM bands l JOIN bands r ON l.band_idx = r.band_idx AND l.band = r.band
       |  WHERE l.doc_id % 10 <> ${graft.ext.Corpus.BenchSlice}
       |    AND r.doc_id % 10 = ${graft.ext.Corpus.BenchSlice}),
       |hits AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_eval_matches,
       |         CAST(min(hamming) AS BIGINT) AS min_hamming
       |  FROM cand WHERE hamming <= $DctHamMax GROUP BY doc_id)
       |SELECT d.doc_id,
       |       coalesce(h.n_eval_matches, 0) AS n_eval_matches,
       |       coalesce(h.min_hamming, 64) AS min_hamming,
       |       h.doc_id IS NULL AS keep
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> ${graft.ext.Corpus.BenchSlice}) d
       |LEFT JOIN hits h ON d.doc_id = h.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The shared WITH…pairs CTE chain of the perceptual-hash family —
    * pixels via the proven hex-slice route, the flat Q14 integer DCT with
    * the SAME spliced basis constants, bit_or-folded bits (bit 63's value
    * is the literal Long.MinValue — DuckDB refuses 1<<63 where the JVM
    * wraps), then the band/hamming pairing. [[dctDedupSql]] and
    * [[hammingCurveSql]] both COMPOSE this val (no string surgery on a
    * finished query), so their pair semantics cannot drift.
    *
    * The basis matrix is hoisted into the one-row `dctb` CTE and read as
    * a column inside the lambdas: spliced inline, DuckDB re-materializes
    * the 8×8 literal on every lambda evaluation — 64·64·2 constructions
    * per document — which made EACH oracle of this family cost ~70 s and
    * the twelve of them 98% of the whole 915 s round-14 gate; the hoist
    * is 240× on this stage (68.9 s → 0.28 s, bit-identical folds) and
    * drops the family to seconds. */
  private[graft] def dctPairsCtesBodyFor(rel: String): String = {
    val bLit = DctBasis.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val bandBits = 64 / DctBands
    val mask = (1L << bandBits) - 1
    val ks = (0 until DctBands).mkString(", ")
    s"""m AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
       |  FROM $rel),
       |d AS (SELECT doc_id, hx, n, greatest(1, n // 64) AS w FROM m),
       |px AS (
       |  SELECT doc_id, list_transform(generate_series(0, 63), i ->
       |    CASE WHEN n = 0 OR $winCntSql = 0 THEN 0 ELSE $winSumSql // $winCntSql END) AS p
       |  FROM d),
       |dctb AS (SELECT $bLit AS bb),
       |co AS (
       |  SELECT doc_id, list_transform(generate_series(0, 63), k ->
       |    CAST(list_sum(list_transform(generate_series(0, 63), q ->
       |      bb[CAST(k // 8 + 1 AS BIGINT)][CAST(q // 8 + 1 AS BIGINT)]
       |      * bb[CAST(k % 8 + 1 AS BIGINT)][CAST(q % 8 + 1 AS BIGINT)]
       |      * p[CAST(q + 1 AS BIGINT)])) AS BIGINT)) AS y
       |  FROM px, dctb),
       |ph AS MATERIALIZED (
       |  SELECT doc_id,
       |         coalesce(list_aggregate(list_transform(generate_series(0, 63), i ->
       |           CASE WHEN y[CAST(i + 1 AS BIGINT)] * 63 > (CAST(list_sum(y) AS BIGINT) - y[1])
       |                THEN CASE WHEN i = 63 THEN (-9223372036854775808)::BIGINT
       |                          ELSE (1::BIGINT << CAST(i AS INT)) END
       |                ELSE 0 END), 'bit_or'), 0) AS phash
       |  FROM co),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, phash, k AS band_idx, (phash >> (k * $bandBits)) & $mask AS band
       |  FROM ph, (SELECT unnest([$ks]) AS k)),
       |pairs AS (
       |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |         bit_count(xor(l.phash, r.phash)) AS hamming
       |  FROM bands l JOIN bands r
       |    ON l.band_idx = r.band_idx AND l.band = r.band AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  private val dctPairsCtes: String = "WITH " + dctPairsCtesBodyFor("documents")

  /** Oracle twin of the banded perceptual-hash dedup: the shared
    * [[dctPairsCtes]] chain, then the hamming-thresholded pair listing. */
  val dctDedupSql: String =
    s"""$dctPairsCtes
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $DctHamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Oracle twin of [[hammingCurve]]: the identical CTE chain through
    * `pairs` (composed from [[dctPairsCtes]] so the two cannot drift),
    * then the zero-filled level histogram with a running cumulative sum. */
  val hammingCurveSql: String =
    s"""$dctPairsCtes,
       |hist AS (SELECT hamming, count(*) AS n FROM pairs GROUP BY 1),
       |lv AS (SELECT unnest(range(0, ${HcLevels + 1})) AS hamming)
       |SELECT CAST(l.hamming AS BIGINT) AS hamming,
       |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_pairs,
       |       CAST(sum(coalesce(h.n, 0)) OVER (ORDER BY l.hamming ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
       |       l.hamming < $DctBands AS is_complete
       |FROM lv l LEFT JOIN hist h ON l.hamming = h.hamming
       |ORDER BY hamming""".stripMargin

  // ------------------------------------- media dedup warehouse maintenance
  /** The media near-dup warehouse of one snapshot: the per-object DCT hash
    * index (doc_id, media_type, phash — 16 bytes/object, the persistent
    * artifact an image-dedup service keeps) and the qualifying near-dup
    * pair table (doc_a < doc_b, hamming). What [[frozenMediaBase]] freezes
    * at bootstrap and [[mediaWarehouseUpdateOn]] both consumes and
    * produces, so daily media snapshots chain state → state → state
    * without ever re-hashing (= re-decoding) the untouched majority — the
    * text dedup family's [[graft.ext.Dedup.DupWarehouse]] ladder, extended
    * to the canonical append-mostly 100 TB source. */
  case class MediaWarehouse(hashes: DataFrame, pairs: DataFrame) {
    /** Release any cached blocks this state holds (no-op on frames that
      * were never persisted) — the [[graft.ext.Dedup.DupWarehouse]]
      * release discipline for chained ingestion loops. */
    def release(): Unit = Seq(hashes, pairs).foreach(_.unpersist())
  }

  /** Snapshot reconciliation for MEDIA: same four status classes as
    * [[graft.ext.Corpus.snapshotDeltaOn]], but fingerprinting the RAW
    * payload bytes, not normalized text — the warehouse key is the
    * payload, and a byte-level change (case, whitespace) that text
    * normalization would erase still changes the decoded pixels and
    * therefore the DCT hash. NULL-payload docs coalesce to a sentinel, so
    * fp nullness stays a pure presence signal.
    *
    * PRECONDITION — source immutability: the fingerprint covers the
    * payload only, but carried warehouse state includes media_type and
    * the alignment verdict, both functions of the `source` column. A doc
    * whose source changed with an unchanged payload would classify as
    * "unchanged" and carry a stale media_type/verdict. Snapshot
    * reconciliation therefore assumes a doc's source never mutates
    * (true of every snapshot this engine simulates and of any ingest
    * where source is part of the document's identity); an ingest that
    * can rewrite source must fold it into the fingerprint. */
  def mediaDeltaOn(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    mediaDeltaFromFps(mediaFp(oldDocs), mediaFp(newDocs))

  /** Payload-identity fingerprint (md5 over the raw bytes, null-safe
    * sentinel) — the media twin of [[graft.ext.Corpus.deltaFp]]. */
  private[graft] def mediaFp(df: DataFrame): DataFrame = df.select(col("doc_id"),
    coalesce(md5(encode(col("text"), "UTF-8")), lit("<null>")).as("fp"))

  /** Media delta classify against STORED old-side fingerprints (round 19,
    * the [[graft.ext.Corpus.snapshotDeltaFromStoredFps]] twin): the
    * frozen media warehouse carries the identity fingerprints next to
    * the perceptual hashes, so the steady-state update never re-reads
    * the old snapshot's payloads to decide what changed. */
  private def mediaDeltaFromStoredFps(oldFps: DataFrame, newDocs: DataFrame): DataFrame =
    mediaDeltaFromFps(
      oldFps.select(col("doc_id"), coalesce(col("fp"), lit("<null>")).as("fp")),
      mediaFp(newDocs))

  private def mediaDeltaFromFps(o: DataFrame, n: DataFrame): DataFrame =
    o.as("o").join(n.as("n"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("o.fp").isNull, lit("added"))
          .when(col("n.fp").isNull, lit("removed"))
          .when(col("o.fp") =!= col("n.fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** One incremental hop of the media dedup warehouse: reconcile the old
    * snapshot's (hash index, pair table) to the new snapshot, hashing —
    * i.e. DECODING — only the added ∪ changed slice.
    *
    * Exactness: the warehouse pair relation is band-collision ∧ hamming ≤
    * `hamMax`, a pure function of the two objects' hashes. An unchanged
    * doc's payload (hence hash, hence every band) is unchanged, so a pair
    * between two unchanged docs can neither appear nor vanish — surviving
    * old pairs (neither endpoint removed/changed) are carried verbatim,
    * and every other qualifying pair involves a fresh doc, which
    * [[dctCandidatesAgainst]] (fresh × all, both sides banded identically
    * to the batch build) emits exactly once. The union is therefore
    * EXACTLY the from-scratch [[dctDedup]] of the new snapshot — the
    * oracle contract of `mm_dedup_incremental`, and MultimodalSpec's
    * N-random-delta chain property.
    *
    * Scale shape: one codec pass over |delta| objects, one band-bucket
    * join of |delta| rows against the index, anti-joins on the delta's
    * ids — never corpus × corpus, and never a second decode of a stored
    * object. `precomputedDelta` / `precomputedFreshHashes` are the
    * streamed-ingest seams ([[graft.streaming.Streams.mediaDedupBatches]]
    * hashes at stream time; the reconcile then reuses those rows instead
    * of re-deriving them) — both must derive from the same (oldDocs,
    * newDocs) pair, and `precomputedFreshHashes` must cover exactly the
    * added ∪ changed slice of the new snapshot. */
  def mediaWarehouseUpdateOn(oldDocs: DataFrame, newDocs: DataFrame,
                             oldHashes: DataFrame, oldPairs: DataFrame,
                             hamMax: Int = DctHamMax,
                             precomputedDelta: Option[DataFrame] = None,
                             precomputedFreshHashes: Option[DataFrame] = None,
                             oldFps: Option[DataFrame] = None): MediaWarehouse =
    mediaWarehouseUpdateParts(oldDocs, newDocs, oldHashes, oldPairs, hamMax,
      precomputedDelta, precomputedFreshHashes, oldFps)._1

  /** [[mediaWarehouseUpdateOn]] exposing its intermediates — (warehouse,
    * delta, keptPairs, freshPairs) — so the cluster-manifest update can
    * reuse the one delta classification and pair reconciliation instead
    * of re-deriving them ([[mediaClustersUpdateOn]]). */
  private[graft] def mediaWarehouseUpdateParts(
      oldDocs: DataFrame, newDocs: DataFrame,
      oldHashes: DataFrame, oldPairs: DataFrame,
      hamMax: Int = DctHamMax,
      precomputedDelta: Option[DataFrame] = None,
      precomputedFreshHashes: Option[DataFrame] = None,
      oldFps: Option[DataFrame] = None)
      : (MediaWarehouse, DataFrame, DataFrame, DataFrame) = {
    // |delta|-bounded frames are eagerly localCheckpoint'ed (the
    // dupWarehouseUpdateOn lineage discipline): each is consumed by 2-3
    // downstream branches, and checkpointing truncates every reference to
    // an ExistingRDD leaf instead of re-embedding the full logical subtree
    val delta = precomputedDelta.getOrElse(
      oldFps.map(f => mediaDeltaFromStoredFps(f, newDocs))
        .getOrElse(mediaDeltaOn(oldDocs, newDocs)).localCheckpoint())
    val gone = delta.filter(col("status").isin("removed", "changed")).select("doc_id")
    val fresh = delta.filter(col("status").isin("added", "changed")).select("doc_id")
    val freshFp = (precomputedFreshHashes match {
      case Some(pre) =>
        // coverage fail-fast (both directions, |delta|-bounded jobs): a
        // precomputed frame missing a fresh id would silently drop that
        // object from the index and every pair it forms; an EXTRA id
        // would duplicate index rows. Fail loudly instead.
        val missing = fresh.join(pre, Seq("doc_id"), "left_anti").limit(1).count()
        require(missing == 0,
          "precomputedFreshHashes does not cover every added/changed doc_id")
        val extra = pre.select("doc_id").join(fresh, Seq("doc_id"), "left_anti").limit(1).count()
        require(extra == 0,
          "precomputedFreshHashes contains doc_ids outside the added/changed slice")
        // a DUPLICATE row per doc_id would pass both anti-join probes yet
        // silently write two index rows for one object, corrupting rolled
        // state (pairs are saved by dctCandidatesAgainst's distinct, the
        // index is not) — fail loudly on that too
        val dup = pre.groupBy("doc_id").count()
          .filter(col("count") > 1).limit(1).count()
        require(dup == 0,
          "precomputedFreshHashes holds more than one row for some doc_id")
        pre
      case None =>
        dctHashOn(fromDocuments(newDocs.join(fresh, Seq("doc_id"), "left_semi"))).toDF()
    }).localCheckpoint()
    // the new snapshot's hash index: carried hashes + the fresh slice's —
    // no stored object is ever re-decoded
    val hashesNew = oldHashes.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(freshFp)
    // qualifying pairs that touch a fresh doc, each emitted exactly once
    val freshPairs = dctCandidatesAgainst(freshFp, hashesNew)
      .filter(col("hamming") <= lit(hamMax))
      .localCheckpoint()
    // old pairs that survive: neither endpoint removed/changed
    val keptPairs = oldPairs
      .join(gone.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
      .join(gone.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b", "hamming")
    (MediaWarehouse(hashesNew, keptPairs.unionByName(freshPairs)),
      delta, keptPairs, freshPairs)
  }

  /** Incremental maintenance of the media CLUSTER manifest alongside the
    * pair warehouse: one delta classification and one pair reconciliation
    * drive both, and the component update is the SAME delta-bounded
    * algorithm the text family runs
    * ([[graft.ext.Dedup.componentUpdateFrom]]: recompute only components
    * holding churned docs or fresh-pair endpoints; carry every untouched
    * cluster verbatim). Returns the new (hash index, pair table) warehouse
    * plus the new cluster manifest — the rolling state of a media
    * ingestion loop that serves both near-dup pairs and visual-family
    * groups. Exactness is inherited from both halves: the pair relation is
    * hash-local, so untouched components cannot change (MultimodalSpec
    * chains it by property against the from-scratch CC). */
  def mediaClustersUpdateOn(oldDocs: DataFrame, newDocs: DataFrame,
                            oldHashes: DataFrame, oldPairs: DataFrame,
                            oldManifest: DataFrame,
                            hamMax: Int = DctHamMax,
                            precomputedDelta: Option[DataFrame] = None,
                            precomputedFreshHashes: Option[DataFrame] = None,
                            oldFps: Option[DataFrame] = None)
      : (MediaWarehouse, DataFrame) = {
    val (wh, delta, keptPairs, freshPairs) = mediaWarehouseUpdateParts(
      oldDocs, newDocs, oldHashes, oldPairs, hamMax,
      precomputedDelta, precomputedFreshHashes, oldFps)
    val manifest = graft.ext.Dedup.componentUpdateFrom(oldManifest, delta,
      keptPairs.select("doc_a", "doc_b"), freshPairs.select("doc_a", "doc_b"))
    (wh, manifest)
  }

  /** The full media-manifest warehouse of one snapshot: the (hash index,
    * pair table) dedup state, the cluster manifest, the per-doc alignment
    * verdicts and the doc-local (n_bytes, split) rows — everything
    * [[mmManifestFromState]] needs to assemble the composed TRAINING
    * manifest (verdicts + split + pack position) WITHOUT reading a
    * payload or a caption. [[mediaManifestUpdateOn]] both consumes and
    * produces it, so daily media snapshots roll manifest state exactly as
    * the text family's [[graft.ext.Corpus.ManifestWarehouse]] does. */
  case class MediaManifestWarehouse(wh: MediaWarehouse, clusters: DataFrame,
                                    af: DataFrame, docLocal: DataFrame) {
    /** The composed per-doc manifest, assembled from state alone. */
    def manifest: DataFrame = mmManifestFromState(af, clusters, docLocal)
    def release(): Unit = {
      wh.release()
      Seq(clusters, af, docLocal).foreach(_.unpersist())
    }
  }

  /** One incremental hop of the COMPOSED media manifest (the `mm` twin of
    * [[graft.ext.Corpus.manifestWarehouseUpdateOn]]): membership state
    * (clusters, election) reconciles via the shared component update; the
    * doc-local state — alignment verdict (a pure function of (caption,
    * embedding): re-scored only for the fresh slice), byte count and
    * split assignment (pure functions of the payload) — carries for
    * unchanged docs. The ONLY text the update reads beyond the delta
    * classify is the fresh slice's captions; untouched documents'
    * verdicts, bytes, splits and clusters are warehouse reads. Exact by
    * composition: each state table individually lands on its
    * from-scratch value, and the assembly is deterministic in them. */
  def mediaManifestUpdateOn(oldDocs: DataFrame, newDocs: DataFrame,
                            oldHashes: DataFrame, oldPairs: DataFrame,
                            oldClusters: DataFrame,
                            afOld: DataFrame, dlOld: DataFrame,
                            embeddings: DataFrame,
                            hamMax: Int = DctHamMax,
                            precomputedDelta: Option[DataFrame] = None,
                            precomputedFreshHashes: Option[DataFrame] = None,
                            oldFps: Option[DataFrame] = None): MediaManifestWarehouse = {
    val delta = precomputedDelta.getOrElse(
      oldFps.map(f => mediaDeltaFromStoredFps(f, newDocs))
        .getOrElse(mediaDeltaOn(oldDocs, newDocs)).localCheckpoint())
    val (wh, clusters) = mediaClustersUpdateOn(oldDocs, newDocs, oldHashes,
      oldPairs, oldClusters, hamMax, Some(delta), precomputedFreshHashes)
    val gone = delta.filter(col("status").isin("removed", "changed")).select("doc_id")
    val fresh = delta.filter(col("status").isin("added", "changed")).select("doc_id")
    val freshDocs = newDocs.join(fresh, Seq("doc_id"), "left_semi").localCheckpoint()
    // Kept un-checkpointed HERE so the warehouse's state tables retain
    // their full lineage — the carried-state parquet scans in af/docLocal
    // are the plan-pin evidence that the rolled/incremental rows read
    // frozen warehouse state, and MultimodalSpec reads it off THESE
    // frames' own plans (round 19). [[mmManifestFromState]] lazily
    // checkpoints them at consumption, so the composed assembly still
    // materializes each state table once.
    val afNew = afOld.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(alignFilterOn(freshDocs, embeddings))
    val dlNew = dlOld.join(gone, Seq("doc_id"), "left_anti")
      .unionByName(mmDocLocalOn(freshDocs))
    MediaManifestWarehouse(wh, clusters, afNew, dlNew)
  }

  /** Frozen doc-local manifest state (alignment verdicts, byte counts +
    * split assignments) of the simulated OLD snapshot — the companion of
    * [[frozenMediaBase]] for the composed-manifest rows. */
  private val mediaManifestBaseCache =
    new graft.ops.FrozenCaches.DirMemo[Int, (String, String)]("mm_manifest_base")

  private[graft] def frozenMediaManifestBase(spark: SparkSession, dir: String): (String, String) =
    mediaManifestBaseCache.get(dir, AlignDim) { base =>
      val old = graft.ext.Corpus.deltaOldSlice(Tables.documents(spark, dir))
      val emb = Tables.embeddings(spark, dir)
      alignFilterOn(old, emb).write.parquet(s"$base/af.parquet")
      mmDocLocalOn(old).write.parquet(s"$base/dl.parquet")
      (s"$base/af.parquet", s"$base/dl.parquet")
    }

  /** Registered incremental COMPOSED media manifest — the full `mm` twin
    * of `t_manifest_incremental`: one snapshot delta drives the dedup
    * warehouse, the cluster manifest, the alignment-verdict carry and the
    * byte-count carry, and the manifest a multimodal training run
    * consumes reassembles from state. Oracle: the composed from-scratch
    * stage oracles over the NEW snapshot — no incremental formulation
    * anywhere. */
  def mediaManifestIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val (hPath, pPath, mPath, fPath) = frozenMediaBase(spark, dir)
    val (afPath, nbPath) = frozenMediaManifestBase(spark, dir)
    mediaManifestUpdateOn(old, nw,
      spark.read.parquet(hPath), spark.read.parquet(pPath),
      spark.read.parquet(mPath),
      spark.read.parquet(afPath), spark.read.parquet(nbPath),
      Tables.embeddings(spark, dir),
      oldFps = Some(spark.read.parquet(fPath))).manifest
  }

  // lazy: composes alignFilterSqlFor, whose AlignDim/AlignMin vals sit
  // later in this object — eager init here would fold zeros into the SQL
  lazy val mediaManifestIncrementalSql: String =
    s"""WITH RECURSIVE newsnap AS (
       |  SELECT doc_id, ${graft.ext.Corpus.deltaNewTextSql} AS text, source
       |  FROM documents WHERE ${graft.ext.Corpus.deltaNewWhereSql}),
       |${mmManifestBodyFor("newsnap")}""".stripMargin

  /** Frozen media warehouse of the simulated OLD snapshot (hash index +
    * pair table), built once per corpus — what a media ingest pipeline has
    * on disk when a new snapshot lands, so the registered incremental row
    * measures the UPDATE, not the bootstrap (the
    * [[graft.ext.Dedup.frozenIncrementalBase]] discipline). */
  private val mediaBaseCache =
    new graft.ops.FrozenCaches.DirMemo[Int, (String, String, String, String)]("mm_incr_base")

  private[graft] def frozenMediaBase(spark: SparkSession, dir: String)
      : (String, String, String, String) =
    mediaBaseCache.get(dir, DctHamMax) { base =>
      val old = graft.ext.Corpus.deltaOldSlice(Tables.documents(spark, dir))
      // one hash pass feeds the index freeze AND the pair build; one pair
      // computation feeds the pair freeze AND the cluster manifest
      val fp = dctHashOn(fromDocuments(old)).toDF().persist()
      fp.write.parquet(s"$base/hashes.parquet")
      val bands = dctBands(fp)
      val pairs = bands.as("l").join(bands.as("r"),
          col("l.band_idx") === col("r.band_idx") && col("l.band") === col("r.band")
            && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          bit_count(col("l.phash").bitwiseXOR(col("r.phash"))).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= lit(DctHamMax))
        .persist()
      pairs.write.parquet(s"$base/pairs.parquet")
      graft.ext.Dedup.propagateComponents(old.select("doc_id"),
          pairs.select("doc_a", "doc_b"))
        .write.parquet(s"$base/manifest.parquet")
      pairs.unpersist()
      fp.unpersist()
      // identity fingerprints next to the perceptual hashes (round 19):
      // the steady-state updates classify their delta against this table
      // instead of re-reading the old snapshot's payloads
      mediaFp(old).write.parquet(s"$base/fps.parquet")
      (s"$base/hashes.parquet", s"$base/pairs.parquet", s"$base/manifest.parquet",
        s"$base/fps.parquet")
    }

  /** The media warehouse BOOTSTRAP, registered as its own row (the
    * `dd_clusters_base` discipline: base build and steady-state update are
    * different operating regimes and must not share one measurement): the
    * full hash + banded-pair build over the simulated old snapshot, frozen
    * as the state [[mediaDedupIncremental]] then updates. Runs before the
    * incremental row in the name-ordered bench, so that row measures ONLY
    * the per-snapshot delta update. Oracled against the from-scratch
    * banded DCT pairing over the old snapshot. */
  def mediaDedupBase(spark: SparkSession, dir: String): DataFrame = {
    val (_, pPath, _, _) = frozenMediaBase(spark, dir)
    spark.read.parquet(pPath)
  }

  lazy val mediaDedupBaseSql: String =
    s"""WITH oldsnap AS (
       |  SELECT doc_id, text FROM documents WHERE ${graft.ext.Corpus.deltaOldWhereSql}),
       |${dctPairsCtesBodyFor("oldsnap")}
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $DctHamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Registered incremental media-dedup update — the multimodal rung of
    * the warehouse ladder (VERDICT r13 #2): the old snapshot's frozen
    * (hash index, pair table) reconciled to the new snapshot at the
    * registered 6% churn, decoding only the fresh slice. Oracle: the
    * from-scratch banded DCT pairing over the NEW snapshot — no
    * incremental formulation anywhere; the update earns its row by
    * landing on the rebuild exactly. */
  def mediaDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val (hPath, pPath, _, fPath) = frozenMediaBase(spark, dir)
    mediaWarehouseUpdateOn(old, nw,
        spark.read.parquet(hPath), spark.read.parquet(pPath),
        oldFps = Some(spark.read.parquet(fPath)))
      .pairs
  }

  lazy val mediaDedupIncrementalSql: String =
    s"""WITH newsnap AS (
       |  SELECT doc_id, ${graft.ext.Corpus.deltaNewTextSql} AS text
       |  FROM documents WHERE ${graft.ext.Corpus.deltaNewWhereSql}),
       |${dctPairsCtesBodyFor("newsnap")}
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $DctHamMax
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Frozen ROLLED media warehouse: the s1 snapshot's (hash index, pairs)
    * as PRODUCED BY the first [[mediaWarehouseUpdateOn]] hop — not a
    * bootstrap — persisted once per corpus, so the registered rolled row
    * measures hop 2 FROM rolled state (the daily regime) and hop 1's cost
    * stays ledgered where `mm_dedup_incremental` already measures it. The
    * churn classes are shared VERBATIM with the text families
    * ([[graft.ext.Dedup.rolledFinalSlice]]) — one timeline across text
    * and media, as the manifest family already shares with dedup. */
  private val mediaRolledCache =
    new graft.ops.FrozenCaches.DirMemo[Int, (String, String, String, String, String, String)](
      "mm_rolled_base")

  private[graft] def frozenMediaRolled(spark: SparkSession, dir: String)
      : (String, String, String, String, String, String) =
    mediaRolledCache.get(dir, DctHamMax) { base =>
      val docs = Tables.documents(spark, dir)
      val s0 = graft.ext.Corpus.deltaOldSlice(docs)
      val s1 = graft.ext.Corpus.deltaNewSlice(docs)
      val (hPath, pPath, mPath, fPath) = frozenMediaBase(spark, dir)
      val (afPath, nbPath) = frozenMediaManifestBase(spark, dir)
      val w1 = mediaManifestUpdateOn(s0, s1,
        spark.read.parquet(hPath), spark.read.parquet(pPath),
        spark.read.parquet(mPath),
        spark.read.parquet(afPath), spark.read.parquet(nbPath),
        Tables.embeddings(spark, dir),
        oldFps = Some(spark.read.parquet(fPath)))
      w1.wh.hashes.write.parquet(s"$base/hashes.parquet")
      w1.wh.pairs.write.parquet(s"$base/pairs.parquet")
      w1.clusters.write.parquet(s"$base/manifest.parquet")
      w1.af.write.parquet(s"$base/af.parquet")
      w1.docLocal.write.parquet(s"$base/dl.parquet")
      // roll the identity-fingerprint table with the rest of the state
      mediaFp(s1).write.parquet(s"$base/fps.parquet")
      w1.release()
      (s"$base/hashes.parquet", s"$base/pairs.parquet", s"$base/manifest.parquet",
        s"$base/af.parquet", s"$base/dl.parquet", s"$base/fps.parquet")
    }

  /** Registered steady-state rolled update: hop 2 of the media ingestion
    * loop FROM the frozen rolled warehouse (hop 1 is a ledgered build —
    * `mm_dedup_incremental` already measures that regime), against the
    * same rolled final snapshot the text families chain to. Oracle: the
    * from-scratch banded DCT pairing over that final snapshot. */
  def mediaDedupRolled(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val s1 = graft.ext.Corpus.deltaNewSlice(docs)
    val s2 = graft.ext.Dedup.rolledFinalSlice(docs)
    val (hPath, pPath, _, _, _, fPath) = frozenMediaRolled(spark, dir)
    mediaWarehouseUpdateOn(s1, s2,
        spark.read.parquet(hPath), spark.read.parquet(pPath),
        oldFps = Some(spark.read.parquet(fPath)))
      .pairs
  }

  /** Registered incremental media CLUSTER manifest — one delta + pair
    * reconciliation drives the pair warehouse AND the component update
    * (the text family's shared [[graft.ext.Dedup.componentUpdateFrom]]
    * algorithm). Oracle: from-scratch recursive closure over the new
    * snapshot — no incremental formulation anywhere. */
  def mediaClustersIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val old = graft.ext.Corpus.deltaOldSlice(docs)
    val nw = graft.ext.Corpus.deltaNewSlice(docs)
    val (hPath, pPath, mPath, fPath) = frozenMediaBase(spark, dir)
    mediaClustersUpdateOn(old, nw,
        spark.read.parquet(hPath), spark.read.parquet(pPath),
        spark.read.parquet(mPath),
        oldFps = Some(spark.read.parquet(fPath)))
      ._2
  }

  lazy val mediaClustersIncrementalSql: String =
    s"""WITH RECURSIVE newsnap AS (
       |  SELECT doc_id, ${graft.ext.Corpus.deltaNewTextSql} AS text
       |  FROM documents WHERE ${graft.ext.Corpus.deltaNewWhereSql}),
       |${mediaClusterCtesFor("newsnap")}
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |       c.doc_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY c.doc_id""".stripMargin

  /** Registered steady-state rolled cluster update: hop 2 FROM the frozen
    * rolled (warehouse + manifest) state, against the shared rolled final
    * snapshot. Oracle: from-scratch closure over that snapshot. */
  def mediaClustersRolled(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val s1 = graft.ext.Corpus.deltaNewSlice(docs)
    val s2 = graft.ext.Dedup.rolledFinalSlice(docs)
    val (hPath, pPath, mPath, _, _, fPath) = frozenMediaRolled(spark, dir)
    mediaClustersUpdateOn(s1, s2,
        spark.read.parquet(hPath), spark.read.parquet(pPath),
        spark.read.parquet(mPath),
        oldFps = Some(spark.read.parquet(fPath)))
      ._2
  }

  /** Registered steady-state rolled COMPOSED manifest: hop 2 of the media
    * manifest warehouse FROM the frozen rolled state (dedup + clusters +
    * verdicts + bytes as produced by hop 1), against the shared rolled
    * final snapshot. Oracle: the composed from-scratch stage oracles over
    * that snapshot. */
  def mediaManifestRolled(spark: SparkSession, dir: String): DataFrame =
    mediaManifestRolledParts(spark, dir).manifest

  /** The rolled row's warehouse WITH full state-table lineage — what
    * MultimodalSpec's steady-state plan pin reads: the frozen-warehouse
    * parquet scans live in the af/docLocal/clusters frames' own plans
    * (the composed manifest checkpoints them at assembly, so ITS plan no
    * longer carries the evidence — round 19, the hybridAgainstScores
    * convention). */
  private[graft] def mediaManifestRolledParts(spark: SparkSession, dir: String): MediaManifestWarehouse = {
    val docs = Tables.documents(spark, dir)
    val s1 = graft.ext.Corpus.deltaNewSlice(docs)
    val s2 = graft.ext.Dedup.rolledFinalSlice(docs)
    val (hPath, pPath, mPath, afPath, nbPath, fPath) = frozenMediaRolled(spark, dir)
    mediaManifestUpdateOn(s1, s2,
      spark.read.parquet(hPath), spark.read.parquet(pPath),
      spark.read.parquet(mPath),
      spark.read.parquet(afPath), spark.read.parquet(nbPath),
      Tables.embeddings(spark, dir),
      oldFps = Some(spark.read.parquet(fPath)))
  }

  lazy val mediaManifestRolledSql: String = {
    val mod = graft.ext.Corpus.DeltaMod
    s"""WITH RECURSIVE s2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % $mod = ${graft.ext.Corpus.DeltaChanged} THEN text || ' [rev2]'
       |              WHEN doc_id % $mod = ${graft.ext.Dedup.RolledChanged2} THEN text || ' [rev3]'
       |              ELSE text END AS text,
       |         source
       |  FROM documents WHERE doc_id % $mod <> ${graft.ext.Dedup.RolledRemoved2}),
       |${mmManifestBodyFor("s2")}""".stripMargin
  }

  lazy val mediaClustersRolledSql: String = {
    val mod = graft.ext.Corpus.DeltaMod
    s"""WITH RECURSIVE s2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % $mod = ${graft.ext.Corpus.DeltaChanged} THEN text || ' [rev2]'
       |              WHEN doc_id % $mod = ${graft.ext.Dedup.RolledChanged2} THEN text || ' [rev3]'
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % $mod <> ${graft.ext.Dedup.RolledRemoved2}),
       |${mediaClusterCtesFor("s2")}
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |       c.doc_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY c.doc_id""".stripMargin
  }

  lazy val mediaDedupRolledSql: String = {
    val mod = graft.ext.Corpus.DeltaMod
    s"""WITH s2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % $mod = ${graft.ext.Corpus.DeltaChanged} THEN text || ' [rev2]'
       |              WHEN doc_id % $mod = ${graft.ext.Dedup.RolledChanged2} THEN text || ' [rev3]'
       |              ELSE text END AS text
       |  FROM documents WHERE doc_id % $mod <> ${graft.ext.Dedup.RolledRemoved2}),
       |${dctPairsCtesBodyFor("s2")}
       |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
       |FROM pairs WHERE hamming <= $DctHamMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------ media near-dup clusters + election
  /** Connected components over the banded DCT pair relation — the media
    * near-dup CLUSTER manifest. The pair table answers "which hashes
    * collide"; curation needs "which group does this object belong to"
    * (transitive near-dups: a chain of hamming-8 neighbors is one visual
    * family). Reuses the house propagation loop
    * ([[graft.ext.Dedup.propagateComponents]]: min-label + path-halving,
    * O(log n) rounds, label-sum convergence) over the
    * band-collision-bounded edge table — the same 100 TB shape as the
    * text family's `dd_dup_clusters`. Oracle: exact recursive closure
    * over the identical pair relation. */
  def mediaDupClustersOn(docs: DataFrame): DataFrame =
    graft.ext.Dedup.propagateComponents(
      docs.select("doc_id"),
      dctBandPairsOn(docs).filter(col("hamming") <= lit(DctHamMax.toLong))
        .select("doc_a", "doc_b"))

  /** Materialized media cluster manifest — the text family's
    * [[graft.ext.Dedup.dupClusters]] discipline (VERDICT r16 task 2): the
    * banded-DCT pair build + CC loop runs ONCE per (corpus, hamming knob)
    * and freezes as a parquet manifest TABLE; every registered consumer
    * (`mm_dup_clusters`, `mm_keep_best`, `mm_keep_best_aligned`,
    * `mm_split_safe`, `mm_pipeline_manifest`, the mm funnel family) reads
    * the table instead of re-deriving the loop — previously each paid the
    * full pair + propagation pipeline per invocation (~9 s/suite across
    * four rows at sf0.1). In-process the manifest lives in a temp dir
    * keyed by corpus; at 100 TB it is the same write, pointed at the
    * warehouse. Corpus-sized, so never collected to the driver. */
  private val mediaClusterCache =
    new graft.ops.FrozenCaches.DirMemo[Int, String]("mm_cluster_manifest")

  private[graft] def frozenMediaClusters(spark: SparkSession, dir: String): DataFrame = {
    val path = mediaClusterCache.get(dir, DctHamMax) { base =>
      val p = s"$base/manifest.parquet"
      mediaDupClustersOn(Tables.documents(spark, dir)).write.parquet(p)
      p
    }
    spark.read.parquet(path)
  }

  def mediaDupClusters(spark: SparkSession, dir: String): DataFrame =
    frozenMediaClusters(spark, dir)

  /** The shared closure tail over the DCT pair relation: `comp`
    * (doc_id, cluster_id) + `sizes` — composed by both cluster oracles so
    * the two cannot drift (the [[graft.ext.Dedup.dupClustersCtesFor]]
    * convention). */
  private def mediaClusterCtesFor(rel: String): String =
    s"""${dctPairsCtesBodyFor(rel)},
       |qual AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs WHERE hamming <= $DctHamMax),
       |sym AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM qual
       |        UNION ALL SELECT doc_b, doc_a FROM qual),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM $rel
       |  UNION
       |  SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
       |comp AS MATERIALIZED (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
       |sizes AS MATERIALIZED (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)""".stripMargin

  val mediaDupClustersSql: String =
    s"""WITH RECURSIVE ${mediaClusterCtesFor("documents")}
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |       c.doc_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY c.doc_id""".stripMargin

  /** Keep-LARGEST-PAYLOAD election over the media clusters: each
    * multi-object cluster keeps its biggest payload (the
    * keep-the-highest-resolution rule of image dedup; the stub's n_bytes
    * stands in for the decoded pixel count), smallest doc_id on ties.
    * The RESOLUTION-PROXY election — the composed manifests' survivorship
    * uses the alignment-aware [[mediaKeepBestAlignedFrom]] instead (keep
    * the best-captioned member); this one stays registered as
    * `mm_keep_best` for pipelines that curate on fidelity. One
    * |clusters|-keyed hash aggregate over the manifest-joined byte
    * counts; no pairwise work. Takes an existing (doc_id, n_bytes) table,
    * so callers holding byte counts as warehouse state read no payload. */
  def mediaKeepBestFromBytes(manifest: DataFrame, bytes: DataFrame): DataFrame =
    manifest
      .join(bytes.select(col("doc_id"), col("n_bytes")), Seq("doc_id"))
      .filter(col("cluster_size") > 1)
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"),
          struct(col("n_bytes"), (lit(0L) - col("doc_id")).as("nid"))).as("keep_doc_id"),
        max(col("n_bytes")).as("keep_bytes"),
        min(col("cluster_size")).as("cluster_size"))
      .select(col("cluster_id"), col("keep_doc_id"), col("keep_bytes"),
        col("cluster_size"), (col("cluster_size") - lit(1L)).as("n_removed"))

  /** Byte election from an EXISTING cluster manifest, deriving byte
    * counts from the docs frame. */
  def mediaKeepBestFrom(manifest: DataFrame, docs: DataFrame): DataFrame =
    mediaKeepBestFromBytes(manifest,
      mediaMetaOn(docs).select(col("doc_id"), col("n_bytes")))

  def mediaKeepBestOn(docs: DataFrame): DataFrame =
    mediaKeepBestFrom(mediaDupClustersOn(docs), docs)

  def mediaKeepBest(spark: SparkSession, dir: String): DataFrame =
    // rides the frozen cluster manifest: the election is a |clusters|-keyed
    // aggregate over a parquet read, not a fresh CC loop
    mediaKeepBestFrom(frozenMediaClusters(spark, dir), Tables.documents(spark, dir))

  /** The election as CTEs over `comp`/`sizes` (relations `meta`, `kbr`,
    * `kb`) — composed by the keep-best oracle AND the pipeline-manifest
    * oracle so the election arithmetic cannot drift between them. */
  private def mediaKbCtesFor(rel: String): String =
    s"""meta AS (
       |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
       |  FROM $rel),
       |kbj AS (
       |  SELECT c.cluster_id, c.doc_id, m.n_bytes, s.cluster_size
       |  FROM comp c
       |  JOIN sizes s ON c.cluster_id = s.cluster_id
       |  JOIN meta m ON c.doc_id = m.doc_id
       |  WHERE s.cluster_size > 1),
       |kbr AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |                               ORDER BY n_bytes DESC, doc_id ASC) AS rn
       |  FROM kbj),
       |kb AS (SELECT cluster_id, doc_id AS keep_doc_id, n_bytes AS keep_bytes,
       |              cluster_size FROM kbr WHERE rn = 1)""".stripMargin

  val mediaKeepBestSql: String =
    s"""WITH RECURSIVE ${mediaClusterCtesFor("documents")},
       |${mediaKbCtesFor("documents")}
       |SELECT cluster_id, keep_doc_id, keep_bytes,
       |       cluster_size, cluster_size - 1 AS n_removed
       |FROM kb ORDER BY cluster_id""".stripMargin

  /** ALIGNMENT-AWARE keep-best election: each multi-object cluster keeps
    * the member whose (image, caption) alignment cosine is highest
    * (smallest doc_id on ties) — the multimodal analog of
    * `dd_keep_best`'s trained-quality election, and semantically the
    * right survivorship for a training manifest: among visually
    * near-identical objects, keep the one whose caption best describes
    * it. [[mediaKeepBest]] (largest payload) remains the
    * resolution-proxy sibling. Same scale shape: one |clusters|-keyed
    * hash aggregate over the manifest-joined verdicts, no pairwise work.
    *
    * The pure-state form: `manifest` is a cluster manifest (doc_id,
    * cluster_id, cluster_size), `af` the alignment verdict table — both
    * warehouse state in the incremental family, so the election (and the
    * composed manifest that consumes it, [[mmManifestFromState]]) reads
    * no payload and no caption. */
  def mediaKeepBestAlignedFrom(manifest: DataFrame, af: DataFrame): DataFrame =
    manifest
      .join(af.select(col("doc_id"), col("align_cos")), Seq("doc_id"))
      .filter(col("cluster_size") > 1)
      .groupBy("cluster_id")
      .agg(
        max_by(col("doc_id"),
          struct(col("align_cos"), (lit(0L) - col("doc_id")).as("nid"))).as("keep_doc_id"),
        max(col("align_cos")).as("keep_align_cos"),
        min(col("cluster_size")).as("cluster_size"))
      .select(col("cluster_id"), col("keep_doc_id"), col("keep_align_cos"),
        col("cluster_size"), (col("cluster_size") - lit(1L)).as("n_removed"))

  def mediaKeepBestAlignedOn(docs: DataFrame, embeddings: DataFrame): DataFrame =
    mediaKeepBestAlignedFrom(mediaDupClustersOn(docs), alignFilterOn(docs, embeddings))

  def mediaKeepBestAligned(spark: SparkSession, dir: String): DataFrame =
    mediaKeepBestAlignedFrom(frozenMediaClusters(spark, dir),
      alignFilterOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir)))

  /** The aligned election as CTEs over `comp`/`sizes` and an `af` CTE
    * (relations `kaj`, `kar`, `ka`) — composed by the aligned-keep-best
    * oracle AND every composed-manifest oracle so the election
    * arithmetic cannot drift between them. */
  private def mediaKbaCtes: String =
    s"""kaj AS (
       |  SELECT c.cluster_id, c.doc_id, a.align_cos, s.cluster_size
       |  FROM comp c
       |  JOIN sizes s ON c.cluster_id = s.cluster_id
       |  JOIN af a ON c.doc_id = a.doc_id
       |  WHERE s.cluster_size > 1),
       |kar AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |                               ORDER BY align_cos DESC, doc_id ASC) AS rn
       |  FROM kaj),
       |ka AS (SELECT cluster_id, doc_id AS keep_doc_id, align_cos AS keep_align_cos,
       |              cluster_size FROM kar WHERE rn = 1)""".stripMargin

  // lazy: composes alignFilterSqlFor, whose AlignDim/AlignMin vals sit
  // later in this object — eager init here would fold zeros into the SQL
  lazy val mediaKeepBestAlignedSql: String =
    s"""WITH RECURSIVE ${mediaClusterCtesFor("documents")},
       |af AS MATERIALIZED (${alignFilterSqlFor("documents")}),
       |$mediaKbaCtes
       |SELECT cluster_id, keep_doc_id, keep_align_cos,
       |       cluster_size, cluster_size - 1 AS n_removed
       |FROM ka ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------- image-text alignment gate
  /** CLIP-style cross-modal alignment filter (Radford et al. 2021; the
    * LAION curation recipe: keep an (image, caption) pair iff the cosine
    * of their embeddings clears a threshold). The media-side embedding is
    * the `embeddings` table row sharing the document's id (standing in
    * for the image-tower output); the caption-side embedding is derived
    * from the document text by FEATURE HASHING (Weinberger et al. 2009)
    * into the same [[AlignDim]] dims — salted token hash picks the
    * coordinate, one hash bit picks the sign, so the text tower is
    * deterministic, integer-derived, and engine-portable (a real text
    * tower plugs in as a column of floats without touching the plan).
    *
    * Scale shape: the caption embedding is a row-local codegen'd
    * projection (O(dim · n_tokens) per doc, no shuffle); the pair join is
    * id-keyed (co-partitioned / bucketed in a deployment); the gate is a
    * scalar compare on the r6-rounded cosine — so the whole operator is
    * scan-bound. Degenerate vectors (tokenless caption, zero norm) score
    * 0.0 and fail the gate rather than dividing by zero. */
  val AlignDim = 64
  val AlignMin = 0.0

  /** The hashing-trick caption embedding of `docs` as (doc_id, source,
    * cap) — exposed for specs and as the text-tower seam. */
  def captionEmbeddings(docs: DataFrame): DataFrame = {
    import graft.ext.{Dedup, Text}
    val toksH = transform(Text.tokens(col("text")),
      t => Dedup.baseHash(concat(lit("at:"), t)))
    val cap = transform(sequence(lit(1), lit(AlignDim)), j =>
      (size(filter(col("th"), h =>
          pmod(h, lit(AlignDim.toLong)) === (j - lit(1)).cast("long") &&
            pmod((h / lit(AlignDim)).cast("long"), lit(2L)) === lit(0L)))
        - size(filter(col("th"), h =>
          pmod(h, lit(AlignDim.toLong)) === (j - lit(1)).cast("long") &&
            pmod((h / lit(AlignDim)).cast("long"), lit(2L)) === lit(1L))))
        .cast("double"))
    docs.select(col("doc_id"), col("source"), toksH.as("th"))
      .select(col("doc_id"), col("source"), cap.as("cap"))
  }

  def alignFilterOn(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    import graft.ext.Similarity
    val emb = embeddings.select(col("vec_id").as("doc_id"), col("embedding"))
    captionEmbeddings(docs).join(emb, Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        Similarity.dot(col("cap"), col("embedding")).as("dp"),
        Similarity.norm(col("cap")).as("nc"),
        Similarity.norm(col("embedding")).as("ne"))
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(conv(substring(md5(col("source")), 1, 4), 16, 10).cast("long"), lit(3)) + lit(1)).cast("int")).as("media_type"),
        when(col("nc") > lit(0.0) && col("ne") > lit(0.0),
          r6(col("dp") / (col("nc") * col("ne")))).otherwise(lit(0.0)).as("align_cos"))
      .withColumn("keep", col("align_cos") > lit(AlignMin))
  }

  def alignFilter(spark: SparkSession, dir: String): DataFrame =
    alignFilterOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** The caption-tower CTE chain (`th` → `cap`) over a snapshot relation
    * — the ONE SQL definition of the feature-hashed text tower, composed
    * by [[alignFilterSqlFor]] and the retrieval-eval oracle so the two
    * towers cannot drift. */
  private def captionCtesFor(rel: String): String = {
    import graft.ext.{Dedup, Text}
    s"""th AS (
       |  SELECT doc_id, source,
       |         list_transform(${Text.tokensSql("text")},
       |                        t -> ${Dedup.baseHashSql("'at:' || t")}) AS th
       |  FROM $rel),
       |cap AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         list_transform(range(1, ${AlignDim + 1}), j -> CAST(
       |           len(list_filter(th, h -> h % $AlignDim = j - 1 AND (h // $AlignDim) % 2 = 0))
       |           - len(list_filter(th, h -> h % $AlignDim = j - 1 AND (h // $AlignDim) % 2 = 1))
       |           AS DOUBLE)) AS cap
       |  FROM th)""".stripMargin
  }

  def alignFilterSqlFor(rel: String): String = {
    import graft.ext.Similarity
    s"""WITH ${captionCtesFor(rel)},
       |j AS (
       |  SELECT c.doc_id, c.source,
       |         ${Similarity.dotSql("c.cap", "e.embedding")} AS dp,
       |         ${Similarity.normSql("c.cap")} AS nc,
       |         ${Similarity.normSql("e.embedding")} AS ne
       |  FROM cap c JOIN embeddings e ON c.doc_id = e.vec_id),
       |scored AS (
       |  SELECT doc_id,
       |         ['image', 'audio', 'video'][(('0x' || substr(md5(source), 1, 4))::BIGINT % 3 + 1)::INT] AS media_type,
       |         CASE WHEN nc > 0 AND ne > 0 THEN ${r6Sql("dp / (nc * ne)")}
       |              ELSE 0.0 END AS align_cos
       |  FROM j)
       |SELECT doc_id, media_type, align_cos, align_cos > $AlignMin AS keep
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  lazy val alignFilterSql: String = alignFilterSqlFor("documents")

  // ------------------------------------------------- media curation funnel
  /** Decode-quality gate thresholds (the LAION-style min-size / aspect
    * filter): both decoded dims at least [[MinMediaDim]], aspect ratio at
    * most 2 (integer cross-multiplication — no float enters the gate),
    * and at least [[MinMediaBytes]] payload bytes. */
  val MinMediaDim = 32
  val MinMediaBytes = 16

  /** The media CURATION FUNNEL — the multimodal twin of
    * `t_curation_funnel`: one row per document with every gate bit and
    * the FIRST-failing-gate drop attribution, in pipeline order:
    *
    *   1. `decode` — the decoder's dims clear the min-size/aspect gate
    *      (runs the registered [[decodeFeatures]] codec path — the gate's
    *      meaning IS "decode it and look");
    *   2. `no_embedding` — the media-tower output exists (no embedding
    *      row → nothing to align or retrieve);
    *   3. `alignment` — the CLIP-style cosine gate ([[alignFilterOn]]);
    *   4. `near_dup` — the aligned keep-best election chose another
    *      cluster member.
    *
    * `kept` = all gates pass; `drop_reason` is NULL on kept rows (the
    * text funnel's convention). Gate bits stay visible per row so the
    * co-fire/attribution analyses the text family runs apply verbatim.
    * Scale shape: one codec pass, then doc_id-keyed verdict joins —
    * narrow frames, no corpus × corpus stage. */
  /** Final gate-bit assembly of the media curation funnel from its state
    * frames — shared VERBATIM by the one-shot funnel and the streaming
    * twin ([[graft.streaming.Streams.mmCurationFunnelBatches]]) so their
    * verdicts cannot drift. `base` = (doc_id, media_type, width, height,
    * n_bytes) doc-local feature rows ([[mmFunnelDocStateOn]]); `af` =
    * (doc_id, keep) alignment verdicts (row present ⇔ embedding exists);
    * `cl` = (doc_id, cluster_id, cluster_size) cluster manifest; `ka` =
    * (cluster_id, keep_doc_id) election over multi-object clusters. */
  private[graft] def mmFunnelAssemble(base: DataFrame, af: DataFrame,
                                      cl: DataFrame, ka: DataFrame): DataFrame = {
    val lo = least(col("width"), col("height"))
    val hi = greatest(col("width"), col("height"))
    val pdc = lo >= lit(MinMediaDim) && hi <= lit(2) * lo &&
      col("n_bytes") >= lit(MinMediaBytes.toLong)
    val pe = coalesce(col("has_emb"), lit(false))
    val pa = coalesce(col("keep"), lit(false))
    val ps = col("cluster_size") === lit(1L) ||
      coalesce(col("keep_doc_id") === col("doc_id"), lit(false))
    base
      .join(af.select(col("doc_id"), col("keep"), lit(true).as("has_emb")),
        Seq("doc_id"), "left")
      .join(cl, Seq("doc_id"))
      .join(ka, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("media_type"),
        pdc.as("pass_decode"), pe.as("has_embedding"),
        pa.as("pass_align"), ps.as("is_survivor"),
        (pdc && pe && pa && ps).as("kept"),
        when(!pdc, "decode").when(!pe, "no_embedding")
          .when(!pa, "alignment").when(!ps, "near_dup").as("drop_reason"))
  }

  /** Doc-local funnel-state row: the decode-gate inputs (ONE codec pass at
    * ingest) + media type + payload bytes — what the streaming funnel
    * appends to its feature state per micro-batch, and the `base` frame of
    * [[mmFunnelAssemble]]. Every column is a pure function of the
    * document, so stream-time rows are final. */
  private[graft] def mmFunnelDocStateOn(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), mediaTypeCol.as("media_type"))
      .join(decodeFeatures(fromDocuments(docs)).toDF()
        .select(col("doc_id"), col("width"), col("height")), Seq("doc_id"))
      .join(mmDocLocalOn(docs).select(col("doc_id"), col("n_bytes")), Seq("doc_id"))

  /** The funnel over a caller-supplied cluster manifest — shared by the
    * compositional form below and the registered dir form (which serves
    * the FROZEN manifest, so the funnel pays a parquet read, not a CC
    * loop). */
  def mmCurationFunnelFrom(docs: DataFrame, embeddings: DataFrame,
                           clusters: DataFrame,
                           checkpointClusters: Boolean = true): DataFrame = {
    // ONE caption-tower pass feeds both the gate bits and the election —
    // checkpointed so the one-pass claim is structural: without it Spark
    // may re-evaluate the alignFilterOn subtree once per consuming branch
    // unless exchange reuse happens
    // to fire. The cluster frame checkpoints only when COMPUTED (the
    // mmManifestFromState rationale): a frozen parquet read re-scans
    // cheaply per branch and stays visible to plan pins
    val afAll = alignFilterOn(docs, embeddings).localCheckpoint()
    val cl0 = clusters.select("doc_id", "cluster_id", "cluster_size")
    val cl = if (checkpointClusters) cl0.localCheckpoint() else cl0
    val ka = mediaKeepBestAlignedFrom(cl, afAll)
      .select("cluster_id", "keep_doc_id")
    mmFunnelAssemble(mmFunnelDocStateOn(docs),
      afAll.select(col("doc_id"), col("keep")), cl, ka)
  }

  def mmCurationFunnelOn(docs: DataFrame, embeddings: DataFrame): DataFrame =
    mmCurationFunnelFrom(docs, embeddings, mediaDupClustersOn(docs))

  def mmCurationFunnel(spark: SparkSession, dir: String): DataFrame =
    mmCurationFunnelFrom(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      frozenMediaClusters(spark, dir), checkpointClusters = false)

  /** Joint distribution of the four media gate verdicts PER MEDIA TYPE —
    * the `t_gate_patterns` twin: which gate combinations co-fire for
    * which modality (a pattern failing only alignment for audio suggests
    * a tower problem; everything failing together is genuine junk). One
    * aggregate over the funnel's verdict bits: ≤ |types|·2⁴ pattern rows
    * with counts and corpus shares (the share window is bounded by that
    * row count, so the single-partition window is fine). */
  def mmGatePatternsFrom(funnel: DataFrame): DataFrame = {
    val w = Window.partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    funnel
      .groupBy("media_type", "pass_decode", "has_embedding", "pass_align",
        "is_survivor", "kept")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share", r6(col("n_docs").cast("double") / sum(col("n_docs")).over(w)))
  }

  /** Frozen funnel verdict rows per corpus — the text family's
    * `frozenFunnelRows` discipline: the report row reads the manifest the
    * suite already paid for instead of re-composing the four gate
    * subplans per consumer. */
  private val mmFunnelRowsCache =
    new graft.ops.FrozenCaches.DirMemo[Int, String]("mm_funnel_rows")

  private def frozenMmFunnelRows(spark: SparkSession, dir: String): DataFrame = {
    val path = mmFunnelRowsCache.get(dir, DctHamMax) { base =>
      mmCurationFunnel(spark, dir).write.parquet(s"$base/rows.parquet")
      s"$base/rows.parquet"
    }
    spark.read.parquet(path)
  }

  def mmGatePatterns(spark: SparkSession, dir: String): DataFrame =
    mmGatePatternsFrom(frozenMmFunnelRows(spark, dir))

  /** Oracle embeds the funnel oracle, so the report cannot drift from the
    * verdicts it summarizes. Lazy per the folding-guard rule. */
  lazy val mmGatePatternsSql: String =
    s"""WITH fun AS (SELECT * FROM ($mmCurationFunnelSql)),
       |g AS (
       |  SELECT media_type, pass_decode, has_embedding, pass_align, is_survivor, kept,
       |         count(*) AS n_docs
       |  FROM fun GROUP BY 1, 2, 3, 4, 5, 6)
       |SELECT media_type, pass_decode, has_embedding, pass_align, is_survivor, kept, n_docs,
       |       ${r6Sql("CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()")} AS share
       |FROM g
       |ORDER BY n_docs DESC, media_type, pass_decode, has_embedding, pass_align, is_survivor, kept""".stripMargin

  /** Oracle: decoded dims re-derived from the payload bytes via the
    * proven hex-slice route (the StubCodec arithmetic verbatim: width =
    * 16 + byte0 % 128, height = 16 + byte1 % 128), the alignment gate's
    * own SQL, the cluster closure + aligned election chains, then the
    * same ordered CASE attribution. */
  lazy val mmCurationFunnelSql: String =
    s"""WITH RECURSIVE ${mediaClusterCtesFor("documents")},
       |af AS MATERIALIZED (${alignFilterSqlFor("documents")}),
       |$mediaKbaCtes,
       |dm AS (
       |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS n
       |  FROM documents),
       |dims AS (
       |  SELECT doc_id, n,
       |         16 + CASE WHEN n = 0 THEN 0 ELSE ${byteAtSql("0")} % 128 END AS width,
       |         16 + CASE WHEN n < 2 THEN 0 ELSE ${byteAtSql("1")} % 128 END AS height
       |  FROM dm),
       |gates AS (
       |  SELECT d.doc_id,
       |         $mediaTypeSql AS media_type,
       |         (least(m.width, m.height) >= $MinMediaDim
       |          AND greatest(m.width, m.height) <= 2 * least(m.width, m.height)
       |          AND m.n >= $MinMediaBytes) AS pass_decode,
       |         a.doc_id IS NOT NULL AS has_embedding,
       |         coalesce(a.keep, FALSE) AS pass_align,
       |         (s.cluster_size = 1 OR coalesce(ka.keep_doc_id = d.doc_id, FALSE)) AS is_survivor
       |  FROM documents d
       |  JOIN dims m ON d.doc_id = m.doc_id
       |  LEFT JOIN af a ON d.doc_id = a.doc_id
       |  JOIN comp c ON d.doc_id = c.doc_id
       |  JOIN sizes s ON c.cluster_id = s.cluster_id
       |  LEFT JOIN ka ON c.cluster_id = ka.cluster_id)
       |SELECT doc_id, media_type, pass_decode, has_embedding, pass_align, is_survivor,
       |       (pass_decode AND has_embedding AND pass_align AND is_survivor) AS kept,
       |       CASE WHEN NOT pass_decode THEN 'decode'
       |            WHEN NOT has_embedding THEN 'no_embedding'
       |            WHEN NOT pass_align THEN 'alignment'
       |            WHEN NOT is_survivor THEN 'near_dup' END AS drop_reason
       |FROM gates ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- cross-modal retrieval eval

  /** CLIP-style TEXT→IMAGE retrieval eval (the standard alignment-model
    * metric, Radford et al. 2021 §3.1.3): for a fixed probe budget of
    * captions ([[graft.ext.Similarity.probeFilter]] — the smallest
    * [[graft.ext.Similarity.ProbeBudget]] salted doc-id hashes among docs
    * that HAVE a media embedding, so the probe count is a CONSTANT under
    * corpus growth and the exact scoring stays O(n·K) at any scale), rank
    * EVERY media embedding by caption-tower cosine and report how often
    * the caption's own media object ranks first / in the top 5 / top 10,
    * plus the mean rank. A probe whose own embedding is the only corpus
    * row trivially ranks 1 (the rank left-join coalesces it in rather
    * than dropping the probe from n_queries). This is the evaluation a
    * curation run uses to decide whether the alignment gate's towers are
    * good enough to gate on at all — the eval-side companion of
    * `mm_align_filter`. (On the synthetic testdata the embeddings are
    * random and uncorrelated with the hashed caption tower, so the
    * registered row correctly reports chance level — mean rank ≈
    * |corpus|/2; MultimodalSpec proves the metric discriminates by
    * feeding aligned towers and reading recall 1.0.)
    *
    * Scale shape — deliberately NOT the rank-window form: the own-object
    * rank is 1 + |strictly better others|, so the probe sample
    * broadcasts, the corpus streams through ONE scan scoring each
    * (object, probe) pair, and a partially-aggregated count per probe
    * replaces the |corpus|·|probes|-row window shuffle the generic
    * top-k needs. "Better" ties break by vec_id (the house rank
    * tiebreak); cosines compare exactly across engines because both
    * fold the same doubles in the same order ([[graft.ext.Similarity
    * .dotSql]]). Degenerate towers (tokenless caption) score 0.0
    * everywhere, so their rank is the id-tiebreak count — deterministic,
    * never NaN. */
  def mmRetrievalRecallOn(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    import graft.ext.Similarity
    val e = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    // probe = caption tower of the fixed-budget pick over docs THAT HAVE
    // a media embedding (no embedding row → no ground truth to rank);
    // picking before the tower keeps the caption pass probe-sized
    val withEmb = docs.join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val probes = captionEmbeddings(Similarity.probeFilter(withEmb, "doc_id"))
      .select(col("doc_id").as("q_id"), col("cap"),
        Similarity.norm(col("cap")).as("q_nrm"))
    def cosOf(capC: Column, qn: Column, emb: Column, en: Column): Column =
      when(qn > lit(0.0) && en > lit(0.0),
        Similarity.dot(capC, emb) / (qn * en)).otherwise(lit(0.0))
    val own = probes.join(e, col("q_id") === col("vec_id"))
      .select(col("q_id"), col("cap"), col("q_nrm"),
        cosOf(col("cap"), col("q_nrm"), col("embedding"), col("nrm")).as("own_cos"))
    val ranks = e.join(broadcast(own), col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosOf(col("cap"), col("q_nrm"), col("embedding"), col("nrm")))
      .withColumn("better",
        (col("cos") > col("own_cos") ||
          (col("cos") === col("own_cos") && col("vec_id") < col("q_id"))).cast("long"))
      .groupBy("q_id")
      .agg((sum("better") + lit(1L)).as("rank"))
    // a probe with no OTHER corpus row has no ranks group — it ranks 1
    val ranksAll = own.select(col("q_id")).join(ranks, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("rank"), lit(1L)).as("rank"))
    ranksAll.agg(count(lit(1)).as("n_queries"),
        sum(when(col("rank") <= 1L, 1L).otherwise(0L)).as("h1"),
        sum(when(col("rank") <= 5L, 1L).otherwise(0L)).as("h5"),
        sum(when(col("rank") <= 10L, 1L).otherwise(0L)).as("h10"),
        avg(col("rank")).as("mr"))
      .select(col("n_queries"),
        r6(col("h1") / col("n_queries").cast("double")).as("recall_at_1"),
        r6(col("h5") / col("n_queries").cast("double")).as("recall_at_5"),
        r6(col("h10") / col("n_queries").cast("double")).as("recall_at_10"),
        r6(col("mr")).as("mean_rank"))
  }

  def mmRetrievalRecall(spark: SparkSession, dir: String): DataFrame =
    mmRetrievalRecallOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Oracle: the shared caption-tower CTEs over the identical fixed-budget
    * probe pick ([[graft.ext.Similarity.probeInSql]] over docs that have an
    * embedding row), the identical better-than-own count with the rank-1
    * coalesce for corpus-of-one probes, the same r6 report. */
  lazy val mmRetrievalRecallSql: String = {
    import graft.ext.Similarity
    val cosSql = (cap: String, qn: String, emb: String, en: String) =>
      s"CASE WHEN $qn > 0 AND $en > 0 THEN ${Similarity.dotSql(cap, emb)} / ($qn * $en) ELSE 0.0 END"
    val probePick = Similarity.probeInSql("doc_id",
      "(SELECT d.doc_id FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)", "doc_id")
    s"""WITH ${captionCtesFor(s"(SELECT * FROM documents WHERE $probePick)")},
       |e AS (SELECT vec_id, embedding, ${Similarity.normSql("embedding")} AS nrm FROM embeddings),
       |probes AS (
       |  SELECT doc_id AS q_id, cap, ${Similarity.normSql("cap")} AS q_nrm FROM cap),
       |own AS MATERIALIZED (
       |  SELECT p.q_id, p.cap, p.q_nrm,
       |         ${cosSql("p.cap", "p.q_nrm", "e.embedding", "e.nrm")} AS own_cos
       |  FROM probes p JOIN e ON p.q_id = e.vec_id),
       |ranks AS (
       |  SELECT o.q_id,
       |         1 + sum(CASE WHEN ${cosSql("o.cap", "o.q_nrm", "e.embedding", "e.nrm")} > o.own_cos
       |                        OR (${cosSql("o.cap", "o.q_nrm", "e.embedding", "e.nrm")} = o.own_cos
       |                            AND e.vec_id < o.q_id)
       |                  THEN 1 ELSE 0 END) AS rank
       |  FROM e JOIN own o ON e.vec_id <> o.q_id
       |  GROUP BY o.q_id),
       |ranks_all AS (
       |  SELECT o.q_id, coalesce(r.rank, 1) AS rank
       |  FROM own o LEFT JOIN ranks r ON o.q_id = r.q_id)
       |SELECT count(*) AS n_queries,
       |       ${r6Sql("sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_1,
       |       ${r6Sql("sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_5,
       |       ${r6Sql("sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_10,
       |       ${r6Sql("avg(rank)")} AS mean_rank
       |FROM ranks_all""".stripMargin
  }

  /** The IMAGE→TEXT retrieval direction — CLIP evals report BOTH (Radford
    * et al. 2021 table conventions): each probed MEDIA embedding ranks
    * every caption tower in the gallery (docs that have an embedding row),
    * and the metric is how often its own caption ranks first / top-5 /
    * top-10 plus the mean rank. Probes are the SAME fixed pick as the
    * text→image row, so the two directions report on the same doc pairs;
    * same 1 + |strictly-better others| broadcast-probe shape (the gallery
    * streams, partial aggregation, no rank-window shuffle), same rank-1
    * coalesce for a gallery-of-one probe. The caption tower runs over the
    * GALLERY here (|corpus| towers, the mm_align_filter cost), not the
    * probe set — that's inherent to the direction. */
  def mmRetrievalRecallI2tOn(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    import graft.ext.Similarity
    val e = embeddings.select(col("vec_id"), col("embedding"),
      Similarity.norm(col("embedding")).as("nrm"))
    val withEmb = docs.join(e.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val gallery = captionEmbeddings(withEmb)
      .select(col("doc_id"), col("cap"), Similarity.norm(col("cap")).as("c_nrm"))
    val probes = Similarity.probeFilter(withEmb, "doc_id").select(col("doc_id"))
      .join(e, col("doc_id") === col("vec_id"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    def cosOf(capC: Column, cn: Column, emb: Column, qn: Column): Column =
      when(cn > lit(0.0) && qn > lit(0.0),
        Similarity.dot(capC, emb) / (cn * qn)).otherwise(lit(0.0))
    val own = probes.join(gallery, col("q_id") === col("doc_id"))
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        cosOf(col("cap"), col("c_nrm"), col("q_emb"), col("q_nrm")).as("own_cos"))
    val ranks = gallery.join(broadcast(own), col("doc_id") =!= col("q_id"))
      .withColumn("cos", cosOf(col("cap"), col("c_nrm"), col("q_emb"), col("q_nrm")))
      .withColumn("better",
        (col("cos") > col("own_cos") ||
          (col("cos") === col("own_cos") && col("doc_id") < col("q_id"))).cast("long"))
      .groupBy("q_id")
      .agg((sum("better") + lit(1L)).as("rank"))
    val ranksAll = own.select(col("q_id")).join(ranks, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("rank"), lit(1L)).as("rank"))
    ranksAll.agg(count(lit(1)).as("n_queries"),
        sum(when(col("rank") <= 1L, 1L).otherwise(0L)).as("h1"),
        sum(when(col("rank") <= 5L, 1L).otherwise(0L)).as("h5"),
        sum(when(col("rank") <= 10L, 1L).otherwise(0L)).as("h10"),
        avg(col("rank")).as("mr"))
      .select(col("n_queries"),
        r6(col("h1") / col("n_queries").cast("double")).as("recall_at_1"),
        r6(col("h5") / col("n_queries").cast("double")).as("recall_at_5"),
        r6(col("h10") / col("n_queries").cast("double")).as("recall_at_10"),
        r6(col("mr")).as("mean_rank"))
  }

  def mmRetrievalRecallI2t(spark: SparkSession, dir: String): DataFrame =
    mmRetrievalRecallI2tOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Oracle: the caption-tower chain over the full gallery, the identical
    * probe pick (shared subquery text with the t2i oracle), the same
    * better-than-own count with the gallery-side doc_id tiebreak and the
    * rank-1 coalesce, the same r6 report. */
  lazy val mmRetrievalRecallI2tSql: String = {
    import graft.ext.Similarity
    val cosSql = (cap: String, cn: String, emb: String, qn: String) =>
      s"CASE WHEN $cn > 0 AND $qn > 0 THEN ${Similarity.dotSql(cap, emb)} / ($cn * $qn) ELSE 0.0 END"
    val withEmb = "(SELECT d.* FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)"
    val probePick = Similarity.probeInSql("e.vec_id",
      "(SELECT d.doc_id FROM documents d JOIN embeddings em ON d.doc_id = em.vec_id)", "doc_id")
    s"""WITH ${captionCtesFor(withEmb)},
       |e AS (SELECT vec_id, embedding, ${Similarity.normSql("embedding")} AS nrm FROM embeddings),
       |gal AS (SELECT doc_id, cap, ${Similarity.normSql("cap")} AS c_nrm FROM cap),
       |probes AS (
       |  SELECT e.vec_id AS q_id, e.embedding AS q_emb, e.nrm AS q_nrm FROM e WHERE $probePick),
       |own AS MATERIALIZED (
       |  SELECT p.q_id, p.q_emb, p.q_nrm,
       |         ${cosSql("g.cap", "g.c_nrm", "p.q_emb", "p.q_nrm")} AS own_cos
       |  FROM probes p JOIN gal g ON p.q_id = g.doc_id),
       |ranks AS (
       |  SELECT o.q_id,
       |         1 + sum(CASE WHEN ${cosSql("g.cap", "g.c_nrm", "o.q_emb", "o.q_nrm")} > o.own_cos
       |                        OR (${cosSql("g.cap", "g.c_nrm", "o.q_emb", "o.q_nrm")} = o.own_cos
       |                            AND g.doc_id < o.q_id)
       |                  THEN 1 ELSE 0 END) AS rank
       |  FROM gal g JOIN own o ON g.doc_id <> o.q_id
       |  GROUP BY o.q_id),
       |ranks_all AS (
       |  SELECT o.q_id, coalesce(r.rank, 1) AS rank
       |  FROM own o LEFT JOIN ranks r ON o.q_id = r.q_id)
       |SELECT count(*) AS n_queries,
       |       ${r6Sql("sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_1,
       |       ${r6Sql("sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_5,
       |       ${r6Sql("sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)")} AS recall_at_10,
       |       ${r6Sql("avg(rank)")} AS mean_rank
       |FROM ranks_all""".stripMargin
  }

  // --------------------------------------------- multimodal pipeline manifest
  /** Media pack-chunk budget in payload BYTES — the media analog of the
    * text packer's [[graft.ext.Corpus.ContextTokens]], at the same 4 KiB
    * granularity the frame sampler chunks payloads by. */
  val MediaPackChunkBytes: Long = ChunkBytes.toLong

  /** Compose the full TRAINING manifest from STATE tables alone —
    * alignment verdicts (doc_id, media_type, align_cos, keep), a cluster
    * manifest, and the doc-local (n_bytes, split) rows — reading no
    * payload and no caption: the form the incremental update emits, and
    * what [[mmPipelineManifestOn]] instantiates with from-scratch state.
    *
    * Zero own logic, every stage a registered entry point: the alignment
    * verdict is [[alignFilterOn]]'s (CLIP-style cosine gate); near-dup
    * membership is the [[mediaDupClustersOn]] manifest over the
    * registered [[dctDedup]] pair relation; survivorship is the
    * ALIGNMENT-AWARE election ([[mediaKeepBestAlignedFrom]] — each
    * multi-object cluster keeps its best-captioned member, the media
    * analog of `dd_keep_best`'s quality election; singletons survive);
    * the split is the LEAKAGE-SAFE `mm_split_safe` rule — the doc-local
    * content-hash assignment carried in state, inherited from each
    * cluster's canonical; and the pack position (shard, chunk_id) for
    * `packed` docs (mm_kept ∧ train) runs the SAME sharded prefix-sum
    * packer as `t_seq_pack_sharded` ([[graft.ext.Corpus
    * .seqPackDocRowsFromTokens]]) with media_type as the stream key and
    * payload bytes as the weight — so the media manifest reaches
    * `t_pipeline_manifest`'s completeness: verdicts + split + pack
    * position, everything a multimodal training run consumes.
    *
    * Scale shape: id-keyed joins of verdict-width frames (never text or
    * payload), one |clusters|-keyed election aggregate, and pack windows
    * bounded by (media_type, shard) over the packed subset only. */
  def mmManifestFromState(af: DataFrame, clusters: DataFrame, docLocal: DataFrame,
                          checkpointClusters: Boolean = true): DataFrame = {
    // checkpointed when the cluster subtree is COMPUTED (a CC loop must
    // not re-run per consuming branch — the update paths); a frozen
    // parquet manifest passes checkpointClusters=false: re-scanning the
    // table per branch is the point of freezing it, the copy would waste
    // a corpus-sized materialization, and skipping the checkpoint keeps
    // the frozen scan VISIBLE to the plan pin (a localCheckpoint would
    // truncate the evidence to an ExistingRDD)
    val cl0 = clusters.select("doc_id", "cluster_id", "cluster_size")
    // keyed repartition before the checkpoint: the cluster update's
    // carried∪recomputed union stacks partition counts (see stateCkpt)
    val cl = if (checkpointClusters) cl0.repartition(col("doc_id")).localCheckpoint()
             else cl0
    // the DERIVED small frames (election, inherited split) are each one
    // branch of the verdict join; when the cluster state was COMPUTED
    // (the update paths — checkpointClusters=true) they are lazily
    // checkpointed so their af/docLocal subtrees run once instead of once
    // per duplicated branch (round 18: only 3 of the plan's 37 exchanges
    // reused; the election/split subtrees replanned with different join
    // strategies per branch and never canonicalized equal). A frozen
    // parquet cluster manifest (checkpointClusters=false) keeps full
    // lineage — the frozen scans per branch ARE the registered design and
    // the plan-pin evidence.
    def derivedCkpt(df: DataFrame): DataFrame =
      if (checkpointClusters) df.localCheckpoint(eager = false) else df
    // the af/docLocal STATE tables are likewise checkpointed on the
    // computed-cluster paths (round 19, VERDICT r18 item 2): the verdict
    // cascade consumes af twice (election + verdict join) and docLocal
    // twice (inherited split + byte/split join), and the pack branch and
    // final projection then re-execute the whole cascade — ~2× the
    // af/docLocal subtrees per consumer without the checkpoint. The
    // frozen-warehouse plan-pin evidence that previously blocked this
    // (MultimodalSpec's steady-state pin read the COMPOSED plan) now
    // reads the state tables' own plans via mediaManifestRolledParts —
    // the hybridAgainstScores convention.
    // repartitioned by key before the checkpoint: the carried∪fresh union
    // STACKS its branches' partition counts and a localCheckpoint freezes
    // them (AQE only coalesces shuffle reads, never ExistingRDD scans) —
    // one size-coalesced exchange here keeps every downstream stage's
    // task count proportional to DATA, not to checkpoint arity. Key-based,
    // so AQE picks the count from bytes at any scale (not a local tune).
    def stateCkpt(df: DataFrame): DataFrame =
      if (checkpointClusters) df.repartition(col("doc_id")).localCheckpoint(eager = false)
      else df
    val afC = stateCkpt(af)
    val dlC = stateCkpt(docLocal)
    val ka = derivedCkpt(
      mediaKeepBestAlignedFrom(cl, afC).select("cluster_id", "keep_doc_id"))
    // the manifest ships the LEAKAGE-SAFE split (VERDICT r16 task 1):
    // docLocal carries the doc-local content-hash assignment; every
    // cluster member inherits its canonical's — the `mm_split_safe` rule,
    // one definition across both families. Cluster churn between
    // snapshots can move a member's inherited split; the delta audit's
    // split_moved class tracks it. Coalesce fallback: spine docs absent
    // from the cluster manifest keep their own split (none via the
    // registered entry points — CC covers every doc).
    val inh = derivedCkpt(graft.ext.Corpus.inheritedSplitFrom(cl,
        dlC.select(col("doc_id"), col("split").as("own_split")))
      .select(col("doc_id"), col("split").as("safe_split")))
    val survivor = col("cluster_size") === lit(1L) || col("keep_doc_id") === col("doc_id")
    // NOT checkpointed, deliberately: the verdict frame feeds the
    // pack-input filter AND the final projection, but with af/cl/dl
    // checkpointed above it is a narrow (id + verdict-bit) join cascade
    // over materialized leaves — the duplicated joins are bounded work,
    // and one more checkpoint measured no better here
    val verdict = afC.join(cl, Seq("doc_id"))
      .join(ka, Seq("cluster_id"), "left")
      .join(dlC.select("doc_id", "n_bytes", "split"), Seq("doc_id"))
      .join(inh, Seq("doc_id"), "left")
      .select(col("doc_id"), col("media_type"), col("align_cos"),
        col("keep").as("pass_align"),
        (col("cluster_size") > 1).as("has_neardup"),
        survivor.as("is_survivor"),
        (col("keep") && survivor).as("mm_kept"),
        coalesce(col("safe_split"), col("split")).as("split"), col("n_bytes"))
      .withColumn("packed", col("mm_kept") && col("split") === "train")
    val pk = graft.ext.Corpus.seqPackDocRowsFromTokens(
        verdict.filter(col("packed"))
          .select(col("media_type").as("lang"), col("doc_id"),
            col("n_bytes").as("n_tok")),
        chunkTokens = MediaPackChunkBytes)
      .select("doc_id", "shard", "chunk_id")
    verdict.join(pk, Seq("doc_id"), "left")
      .select(col("doc_id"), col("media_type"), col("align_cos"),
        col("pass_align"), col("has_neardup"), col("is_survivor"),
        col("mm_kept"), col("split"), col("packed"),
        coalesce(col("shard"), lit(-1L)).as("shard"),
        coalesce(col("chunk_id"), lit(-1L)).as("chunk_id"))
  }

  def mmPipelineManifestOn(docs: DataFrame, embeddings: DataFrame): DataFrame =
    // the registered cluster manifest + the registered aligned election —
    // the same entry points `mm_dup_clusters`/`mm_keep_best_aligned` run,
    // so the composed manifest can never disagree with them. The manifest
    // spine is the alignment gate's domain: documents with media AND an
    // embedding row (the image-tower output the gate scores against).
    mmManifestFromState(alignFilterOn(docs, embeddings), mediaDupClustersOn(docs),
      mmDocLocalOn(docs))

  def mmPipelineManifest(spark: SparkSession, dir: String): DataFrame =
    // the registered form serves the FROZEN cluster manifest into the
    // shared state assembly — the one-shot rebuild then differs from the
    // incremental family only in where the OTHER state tables come from;
    // no cluster checkpoint: the parquet scan per branch IS the design
    mmManifestFromState(
      alignFilterOn(Tables.documents(spark, dir), Tables.embeddings(spark, dir)),
      frozenMediaClusters(spark, dir),
      mmDocLocalOn(Tables.documents(spark, dir)),
      checkpointClusters = false)

  /** The full composed-manifest CTE chain + final select over a snapshot
    * relation — shared by the registered manifest, the incremental row's
    * from-scratch oracle, and the rolled row's, so none can drift. Every
    * stage embeds its own registered oracle: [[alignFilterSqlFor]] whole
    * as the `af` CTE, the cluster closure via [[mediaClusterCtesFor]],
    * the aligned election via [[mediaKbaCtes]], the split via the
    * shared [[graft.ext.Corpus.splitHashSql]]/`splitCaseSql` pieces, and
    * the pack chain via [[graft.ext.Corpus.seqPackRowCtesSql]] over the
    * packed survivors (the `pipelineManifestCtesFor` discipline). The
    * caller supplies the leading `WITH RECURSIVE` (and any snapshot CTE
    * before this chain). */
  private def mmManifestCtesFor(rel: String): String =
    s"""${mediaClusterCtesFor(rel)},
       |af AS MATERIALIZED (${alignFilterSqlFor(rel)}),
       |$mediaKbaCtes,
       |${graft.ext.Corpus.inheritedSplitCtesFor(rel, "comp")},
       |meta2 AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM $rel),
       |verdict AS MATERIALIZED (
       |  SELECT a.doc_id, a.media_type, a.align_cos, a.keep AS pass_align,
       |         (s.cluster_size > 1) AS has_neardup,
       |         (s.cluster_size = 1 OR ka.keep_doc_id = a.doc_id) AS is_survivor,
       |         (a.keep AND (s.cluster_size = 1 OR ka.keep_doc_id = a.doc_id)) AS mm_kept,
       |         sp.split,
       |         (a.keep AND (s.cluster_size = 1 OR ka.keep_doc_id = a.doc_id)
       |          AND sp.split = 'train') AS packed,
       |         m.n_bytes
       |  FROM af a
       |  JOIN comp c ON a.doc_id = c.doc_id
       |  JOIN sizes s ON c.cluster_id = s.cluster_id
       |  LEFT JOIN ka ON c.cluster_id = ka.cluster_id
       |  JOIN sp ON a.doc_id = sp.doc_id
       |  JOIN meta2 m ON a.doc_id = m.doc_id),
       |${graft.ext.Corpus.seqPackRowCtesSql(
           "(SELECT media_type AS lang, doc_id, n_bytes AS n_tok FROM verdict WHERE packed)",
           MediaPackChunkBytes)}""".stripMargin

  private def mmManifestBodyFor(rel: String): String =
    s"""${mmManifestCtesFor(rel)}
       |SELECT v.doc_id, v.media_type, v.align_cos, v.pass_align,
       |       v.has_neardup, v.is_survivor, v.mm_kept, v.split, v.packed,
       |       coalesce(p.shard, -1) AS shard,
       |       coalesce(p.chunk_id, -1) AS chunk_id
       |FROM verdict v LEFT JOIN pdoc p ON v.doc_id = p.doc_id
       |ORDER BY v.doc_id""".stripMargin

  lazy val mmPipelineManifestSql: String = "WITH RECURSIVE " + mmManifestBodyFor("documents")

  // ---------------------------------------- media split hygiene + pack report
  /** Media SPLIT-LEAKAGE audit — the multimodal twin of `t_split_leakage`:
    * near-duplicate MEDIA pairs (the registered banded-DCT relation,
    * hamming ≤ [[DctHamMax]]) that span train/val/test splits. The split
    * is content-hashed over the payload, so EXACT duplicates can never
    * leak — but perceptual near-duplicates (recompressions, brightness
    * variants) hash to different splits at random, and an eval on such a
    * test set silently becomes a memorization probe. Zero-fills all six
    * split combinations; `is_leak` marks the cross-split rows that must
    * be ~0 before a multimodal eval is trusted.
    *
    * Scale shape: two doc_id-keyed joins of the band-bounded pair table
    * against the |corpus|-row split manifest, then a ≤6-group aggregate —
    * identical to the text audit's. */
  def mmSplitLeakageOn(docs: DataFrame): DataFrame = {
    val sp = mmDocLocalOn(docs).select(col("doc_id"), col("split"))
    val pairs = dctBandPairsOn(docs)
      .filter(col("hamming") <= lit(DctHamMax.toLong))
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
    val names = Seq("test", "train", "val")
    import docs.sparkSession.implicits._
    val combos = (for { a <- names; b <- names if a <= b } yield (a, b))
      .toDF("split_a", "split_b")
    combos.join(pairs, Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        (col("split_a") =!= col("split_b")).as("is_leak"))
  }

  def mmSplitLeakage(spark: SparkSession, dir: String): DataFrame =
    mmSplitLeakageOn(Tables.documents(spark, dir))

  /** LEAKAGE-SAFE media split — the REPAIR for what `mm_split_leakage`
    * audits, the `t_split_safe` twin: every member of a perceptual
    * near-dup cluster (the registered banded-DCT `mm_dup_clusters`
    * relation) inherits the split of its cluster canonical's content
    * hash. The content-hash rule pins exact payload copies together, but
    * recompressions/brightness variants hash independently — the DCT
    * hash is invariant to them, so the cluster is the right inheritance
    * unit. `moved` marks the members a split migration touches. Same
    * (id, id, split)-width joins as the text twin. */
  def mmSplitSafeFrom(docs: DataFrame, clusters: DataFrame): DataFrame =
    graft.ext.Corpus.inheritedSplitFrom(clusters,
        docs.select(col("doc_id"), graft.ext.Corpus.splitAssign.as("own_split")))
      .select(col("doc_id"), col("cluster_id"), col("split"),
        (col("split") =!= col("own_split")).as("moved"))

  def mmSplitSafeOn(docs: DataFrame): DataFrame =
    mmSplitSafeFrom(docs, mediaDupClustersOn(docs))

  def mmSplitSafe(spark: SparkSession, dir: String): DataFrame =
    // rides the frozen cluster manifest (the text twin's Dedup.dupClusters
    // discipline): the inheritance is two id-keyed joins over a parquet
    // read, not a fresh banded-DCT pair build + CC loop
    mmSplitSafeFrom(Tables.documents(spark, dir), frozenMediaClusters(spark, dir))

  /** Oracle: the exact recursive media cluster closure + the shared split
    * pieces. Lazy per the folding-guard rule. */
  lazy val mmSplitSafeSql: String =
    s"""WITH RECURSIVE ${mediaClusterCtesFor("documents")},
       |${graft.ext.Corpus.inheritedSplitCtesFor("documents", "comp")}
       |SELECT c.doc_id, c.cluster_id, cn.split AS split, (cn.split <> o.split) AS moved
       |FROM comp c
       |JOIN spc cn ON c.cluster_id = cn.cluster_id
       |JOIN spo o ON c.doc_id = o.doc_id
       |ORDER BY c.doc_id""".stripMargin

  lazy val mmSplitLeakageSql: String =
    s"""WITH ${dctPairsCtesBodyFor("documents")},
       |ed AS (SELECT doc_a, doc_b FROM pairs WHERE hamming <= $DctHamMax),
       |sph AS (SELECT doc_id, ${graft.ext.Corpus.splitHashSql("text")} AS h FROM documents),
       |sp AS MATERIALIZED (SELECT doc_id, ${graft.ext.Corpus.splitCaseSql("h")} AS split FROM sph),
       |lk AS (
       |  SELECT least(a.split, b.split) AS split_a,
       |         greatest(a.split, b.split) AS split_b
       |  FROM ed JOIN sp a ON ed.doc_a = a.doc_id
       |          JOIN sp b ON ed.doc_b = b.doc_id),
       |combos AS (
       |  SELECT a.s AS split_a, b.s AS split_b
       |  FROM (SELECT unnest(['test', 'train', 'val']) AS s) a,
       |       (SELECT unnest(['test', 'train', 'val']) AS s) b
       |  WHERE a.s <= b.s)
       |SELECT c.split_a, c.split_b,
       |       CAST(coalesce(n.n_pairs, 0) AS BIGINT) AS n_pairs,
       |       c.split_a <> c.split_b AS is_leak
       |FROM combos c LEFT JOIN (
       |  SELECT split_a, split_b, count(*) AS n_pairs FROM lk GROUP BY 1, 2) n
       |  ON c.split_a = n.split_a AND c.split_b = n.split_b
       |ORDER BY c.split_a, c.split_b""".stripMargin

  /** Media PACK-EFFICIENCY report — the multimodal twin of
    * `t_pack_efficiency`, per media type over the sharded byte-packer
    * ([[graft.ext.Corpus.seqPackDocRowsFromTokens]] with media_type as
    * the stream key, payload bytes as the weight, [[MediaPackChunkBytes]]
    * chunks — the registered manifest's packer verbatim): `fill_ratio`
    * (bytes / chunks·budget; chunks never span shards, so each shard
    * rounds up independently) and `split_ratio` (objects straddling a
    * chunk boundary) — the two numbers a media shard config is tuned on.
    * Same cumulative window as the packer, so the report can never
    * disagree with the packing it describes. */
  def mmPackEfficiencyOn(docs: DataFrame): DataFrame = {
    val rows = graft.ext.Corpus.seqPackDocRowsFromTokens(
      docs.select(mediaTypeCol.as("lang"), col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_tok")),
      chunkTokens = MediaPackChunkBytes)
    rows
      .withColumn("end_chunk", expr(s"(cum_tok - 1) div $MediaPackChunkBytes"))
      .withColumn("start_chunk", expr(s"(cum_tok - n_tok) div $MediaPackChunkBytes"))
      .groupBy("lang", "shard")
      .agg(count(lit(1)).as("n_objs"),
        sum(when(col("end_chunk") > col("start_chunk"), 1L).otherwise(0L)).as("n_split_objs"),
        sum("n_tok").as("bytes"))
      .withColumn("chunks",
        expr(s"(bytes + ${MediaPackChunkBytes - 1}) div $MediaPackChunkBytes"))
      .groupBy(col("lang").as("media_type"))
      .agg(sum("n_objs").as("n_objs"), sum("n_split_objs").as("n_split_objs"),
        sum("bytes").as("total_bytes"), sum("chunks").as("n_chunks"))
      .select(col("media_type"), col("n_objs"), col("n_split_objs"),
        col("total_bytes"), col("n_chunks"),
        when(col("total_bytes") === 0L, lit(0.0))
          .otherwise(r6(col("total_bytes") /
            (col("n_chunks") * lit(MediaPackChunkBytes)).cast("double"))).as("fill_ratio"),
        r6(col("n_split_objs") / col("n_objs").cast("double")).as("split_ratio"))
  }

  def mmPackEfficiency(spark: SparkSession, dir: String): DataFrame =
    mmPackEfficiencyOn(Tables.documents(spark, dir))

  lazy val mmPackEfficiencySql: String = {
    val b = MediaPackChunkBytes
    s"""WITH mrows AS (
       |  SELECT $mediaTypeSql AS lang, doc_id,
       |         CAST(octet_length(encode(text)) AS BIGINT) AS n_tok
       |  FROM documents),
       |${graft.ext.Corpus.seqPackRowCtesSql("mrows", b)},
       |per AS (
       |  SELECT lang, shard, count(*) AS n_objs,
       |         CAST(sum(CASE WHEN (cum_tok - 1) // $b > (cum_tok - n_tok) // $b THEN 1 ELSE 0 END) AS BIGINT) AS n_split_objs,
       |         CAST(sum(n_tok) AS BIGINT) AS bytes
       |  FROM pdoc GROUP BY 1, 2),
       |agg AS (
       |  SELECT lang AS media_type,
       |         CAST(sum(n_objs) AS BIGINT) AS n_objs,
       |         CAST(sum(n_split_objs) AS BIGINT) AS n_split_objs,
       |         CAST(sum(bytes) AS BIGINT) AS total_bytes,
       |         CAST(sum((bytes + ${b - 1}) // $b) AS BIGINT) AS n_chunks
       |  FROM per GROUP BY 1)
       |SELECT media_type, n_objs, n_split_objs, total_bytes, n_chunks,
       |       CASE WHEN total_bytes = 0 THEN 0.0
       |            ELSE ${r6Sql(s"total_bytes / CAST(n_chunks * $b AS DOUBLE)")} END AS fill_ratio,
       |       ${r6Sql("n_split_objs / CAST(n_objs AS DOUBLE)")} AS split_ratio
       |FROM agg ORDER BY media_type""".stripMargin
  }

  /** The permutation core of the media epoch shuffle, over an explicit
    * packed-chunk unit table (media_type, pack_shard, chunk_id): each
    * epoch gets its own deterministic pseudorandom permutation of the
    * units via the engine-shared salt-keyed hash (salt
    * "mep:&lt;epoch&gt;:" — order is a pure function of (chunks, epoch),
    * reruns reproduce bit-for-bit, no RNG state anywhere). Same scale
    * shape as the text shuffle: the shuffle shard is a hash mod needing
    * no Spark shuffle; the rank window partitions by (epoch, shard). */
  def mmEpochShuffleChunks(chunks: DataFrame,
                           epochs: Int = graft.ext.Corpus.ShuffleEpochs,
                           shards: Int = graft.ext.Corpus.ShuffleShards): DataFrame = {
    val w = Window.partitionBy("epoch", "shard")
      .orderBy(col("h"), col("media_type"), col("pack_shard"), col("chunk_id"))
    chunks
      .withColumn("epoch", explode(sequence(lit(1L), lit(epochs.toLong))))
      .withColumn("h", graft.ext.Dedup.baseHash(
        concat(lit("mep:"), col("epoch"), lit(":"), col("media_type"),
          lit(":"), col("pack_shard"), lit(":"), col("chunk_id"))))
      .withColumn("shard", pmod(col("h"), lit(shards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"),
        col("media_type"), col("pack_shard"), col("chunk_id"))
  }

  /** The packed chunk units of a training manifest — the trainer's media
    * read unit, shared by the compositional and steady-state shuffles. */
  private def packedChunkUnits(manifest: DataFrame): DataFrame =
    manifest.filter(col("packed"))
      .select(col("media_type"), col("shard").as("pack_shard"), col("chunk_id"))
      .distinct()

  /** Compositional form — the full manifest composed from scratch, then
    * permuted; what a day-zero bootstrap runs (MultimodalSpec exercises
    * this form's permutation properties). */
  def mmEpochShuffleOn(docs: DataFrame, embeddings: DataFrame,
                       epochs: Int = graft.ext.Corpus.ShuffleEpochs,
                       shards: Int = graft.ext.Corpus.ShuffleShards): DataFrame =
    mmEpochShuffleChunks(packedChunkUnits(mmPipelineManifestOn(docs, embeddings)),
      epochs, shards)

  /** Frozen ROLLED TRAINING manifest rows as parquet — the hop-2 composed
    * manifest [[mediaManifestRolled]] emits, persisted once per corpus so
    * the per-epoch shuffle (run every epoch of every training job, the
    * hottest consumer of this family) reads FROZEN state: no cluster
    * recomputation, no documents scan, just the permutation itself
    * (VERDICT r15 task 2 — the `_rolled` discipline every other mm
    * steady-state row already follows). */
  private val mediaRolledManifestCache =
    new graft.ops.FrozenCaches.DirMemo[Int, String]("mm_epoch_manifest")

  private[graft] def frozenMediaRolledManifest(spark: SparkSession, dir: String): String =
    mediaRolledManifestCache.get(dir, DctHamMax) { base =>
      mediaManifestRolled(spark, dir).write.parquet(s"$base/manifest.parquet")
      s"$base/manifest.parquet"
    }

  /** Registered steady-state epoch shuffle: the permutation over the
    * FROZEN rolled manifest's packed chunks — the epoch-start step of the
    * daily regime (manifest rolled once per ingest; permutation re-run
    * per epoch). MultimodalSpec pins the plan: one scan of the frozen
    * manifest parquet, no documents scan, no cluster recomputation. */
  def mmEpochShuffle(spark: SparkSession, dir: String): DataFrame =
    mmEpochShuffleChunks(packedChunkUnits(
      spark.read.parquet(frozenMediaRolledManifest(spark, dir))))

  /** Oracle: the from-scratch composed-manifest CTE chain over the SAME
    * rolled final snapshot (s2 — the warehouse ladder's shared churn
    * classes) down to `pdoc`, the distinct packed chunk units, then the
    * identical salt-hash permutation. Lazy: interpolates cross-object
    * churn constants (the `pipelineManifestSql` discipline the folding
    * guard enforces). */
  lazy val mmEpochShuffleSql: String = {
    val e = graft.ext.Corpus.ShuffleEpochs
    val s = graft.ext.Corpus.ShuffleShards
    val mod = graft.ext.Corpus.DeltaMod
    val h = graft.ext.Dedup.baseHashSql(
      "'mep:' || ep.epoch || ':' || c.media_type || ':' || c.pack_shard || ':' || c.chunk_id")
    s"""WITH RECURSIVE s2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % $mod = ${graft.ext.Corpus.DeltaChanged} THEN text || ' [rev2]'
       |              WHEN doc_id % $mod = ${graft.ext.Dedup.RolledChanged2} THEN text || ' [rev3]'
       |              ELSE text END AS text,
       |         source
       |  FROM documents WHERE doc_id % $mod <> ${graft.ext.Dedup.RolledRemoved2}),
       |${mmManifestCtesFor("s2")},
       |chunks AS (SELECT DISTINCT lang AS media_type, shard AS pack_shard, chunk_id FROM pdoc),
       |ep AS (SELECT unnest(range(1, ${e + 1})) AS epoch),
       |sbase AS (
       |  SELECT ep.epoch, c.media_type, c.pack_shard, c.chunk_id, $h AS h
       |  FROM chunks c CROSS JOIN ep)
       |SELECT epoch, h % $s AS shard,
       |       row_number() OVER (PARTITION BY epoch, h % $s
       |                          ORDER BY h, media_type, pack_shard, chunk_id) AS pos,
       |       media_type, pack_shard, chunk_id
       |FROM sbase ORDER BY epoch, shard, pos""".stripMargin
  }

  lazy val all: Seq[Q] = Seq(
    Q("mm_media_meta", mediaMeta _, mediaMetaSql, col("doc_id")),
    Q("mm_align_filter", alignFilter _, alignFilterSql, col("doc_id")),
    Q("mm_feature_pipeline", featurePipeline _, featurePipelineSql, col("media_type")),
    Q("mm_frame_sample", frameSample _, frameSampleSql, col("doc_bucket")),
    Q("mm_phash_dedup", phashDedup _, phashDedupSql, col("media_type"), col("phash")),
    Q("mm_dct_dedup", dctDedup _, dctDedupSql, col("doc_a"), col("doc_b")),
    Q("mm_decontaminate", mediaDecontaminate _, mediaDecontaminateSql, col("doc_id")),
    Q("mm_dedup_base", mediaDedupBase _, mediaDedupBaseSql, col("doc_a"), col("doc_b")),
    Q("mm_dedup_incremental", mediaDedupIncremental _, mediaDedupIncrementalSql,
      col("doc_a"), col("doc_b")),
    Q("mm_dedup_rolled", mediaDedupRolled _, mediaDedupRolledSql, col("doc_a"), col("doc_b")),
    Q("mm_clusters_incremental", mediaClustersIncremental _, mediaClustersIncrementalSql,
      col("doc_id")),
    Q("mm_clusters_rolled", mediaClustersRolled _, mediaClustersRolledSql, col("doc_id")),
    Q("mm_dup_clusters", mediaDupClusters _, mediaDupClustersSql, col("doc_id")),
    Q("mm_hamming_curve", hammingCurve _, hammingCurveSql, col("hamming")),
    Q("mm_keep_best", mediaKeepBest _, mediaKeepBestSql, col("cluster_id")),
    Q("mm_keep_best_aligned", mediaKeepBestAligned _, mediaKeepBestAlignedSql, col("cluster_id")),
    Q("mm_manifest_incremental", mediaManifestIncremental _, mediaManifestIncrementalSql,
      col("doc_id")),
    Q("mm_manifest_rolled", mediaManifestRolled _, mediaManifestRolledSql, col("doc_id")),
    Q("mm_pipeline_manifest", mmPipelineManifest _, mmPipelineManifestSql, col("doc_id")),
    Q("mm_split_leakage", mmSplitLeakage _, mmSplitLeakageSql, col("split_a"), col("split_b")),
    Q("mm_split_safe", mmSplitSafe _, mmSplitSafeSql, col("doc_id")),
    Q("mm_pack_efficiency", mmPackEfficiency _, mmPackEfficiencySql, col("media_type")),
    Q("mm_epoch_shuffle", mmEpochShuffle _, mmEpochShuffleSql,
      col("epoch"), col("shard"), col("pos")),
    Q("mm_retrieval_recall", mmRetrievalRecall _, mmRetrievalRecallSql),
    Q("mm_retrieval_recall_i2t", mmRetrievalRecallI2t _, mmRetrievalRecallI2tSql),
    Q("mm_curation_funnel", mmCurationFunnel _, mmCurationFunnelSql, col("doc_id")),
    // `kept` closes the sort key (ADVICE r16; the t_gate_patterns rule)
    Q("mm_gate_patterns", mmGatePatterns _, mmGatePatternsSql,
      col("n_docs").desc, col("media_type"), col("pass_decode"), col("has_embedding"),
      col("pass_align"), col("is_survivor"), col("kept")),
  )
}
