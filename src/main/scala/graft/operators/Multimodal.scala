package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (LLM-pipeline extension — SURVEY §7.2
  * step 7): media as opaque `binary` payloads with typed metadata,
  * native metadata extraction, and a batched per-partition decode
  * stage for the operations (image decode, audio resample, video
  * frame-sample) that need a real codec library.
  *
  * The corpus has no true media files, so payloads derive
  * deterministically from `documents.text` bytes and the DECODE step
  * is a deterministic fake ([[FakeCodec]]) — clearly marked as the
  * plug-in point. Everything around it is the real production shape:
  *  - payloads are `BinaryType` columns; metadata is a typed struct
  *    alongside, extracted by codegen'd native functions (no UDF);
  *  - decode runs via `mapPartitions` so a real codec would be
  *    initialized ONCE per partition (JNI/FFmpeg handles are
  *    expensive) and fed rows in batch — the Scala analog of a
  *    batched pandas-UDF decode, and the one legitimate
  *    `mapPartitions` use in the engine (SURVEY §7.1 preference
  *    order: compose > Expression > planner rule > mapPartitions);
  *  - per-row fan-out (frames) happens inside the iterator —
  *    no driver materialization, no shuffle.
  *
  * The fake decode is md5-derived, so the DuckDB oracle reproduces
  * every output bit (`MmOracle`).
  */
object Multimodal {

  /** One sampled frame emitted by the decode stage. */
  final case class Frame(doc_id: Long, media_type: String, frame_ix: Long,
      frame_md5: String, width: Long, height: Long)

  /** The decode seam. A production build swaps this trait for a JNI /
    * FFmpeg-backed implementation with the same batch contract:
    * created once per partition, then fed each payload.
    */
  trait Codec extends Serializable {
    /** Sampled-frame hashes + decoded dimensions for one payload. */
    def decode(payload: Array[Byte]): (Seq[String], Long, Long)

    /** The perceptual-hash decode: an 8x9 luma grid (72 values,
      * row-major) — the "resize to a fixed tiny grid" step of dHash.
      * A real codec decodes pixels and averages luma per cell; the
      * engine derives the 64 gradient bits from whatever grid comes
      * back ([[Multimodal.dhashOf]]), so the hash logic is
      * codec-independent.
      */
    def lumaGrid(payload: Array[Byte]): Seq[Int]
  }

  /** Deterministic fake codec: dimensions and frame hashes derive
    * from the payload md5, so decode output is reproducible in SQL.
    * Frame count is 1 + (n_bytes mod 3); frame i's hash is
    * `md5(md5hex(payload) + ":" + i)`.
    */
  object FakeCodec extends Codec {
    private def md5hex(b: Array[Byte]): String =
      MessageDigest.getInstance("MD5").digest(b)
        .map(x => f"${x & 0xff}%02x").mkString

    def decode(payload: Array[Byte]): (Seq[String], Long, Long) = {
      val h = md5hex(payload)
      val w = 16 + (java.lang.Long.parseLong(h.substring(0, 8), 16) % 240)
      val ht = 16 + (java.lang.Long.parseLong(h.substring(8, 16), 16) % 240)
      val n = 1 + (payload.length % 3)
      val frames = (0 until n).map(i =>
        md5hex(s"$h:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      (frames, w, ht)
    }

    /** Deterministic stand-in "decode + resize": slice the payload's
      * text into 72 even CODE-POINT ranges (the thumbnail cells) and
      * take the first md5 byte of each slice as its luma. LOCAL like
      * a real decode: a same-length edit perturbs only the cells it
      * touches (so re-encodes land at small Hamming distance), while
      * an insertion shifts every later cell — the crop analogue.
      * Code points, not UTF-16 units: Java's String.length counts a
      * non-BMP char (emoji) as TWO where SQL character semantics
      * (DuckDB len/substr) count one — the degenerate lake's emoji
      * doc diverged every cell after the first surrogate pair
      * (round-13 hash gate). Identical on ascii and on all BMP text.
      */
    def lumaGrid(payload: Array[Byte]): Seq[Int] = {
      val s = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
      val cps = s.codePoints.toArray
      val n = cps.length.toLong
      (0 until 72).map { i =>
        val from = ((i * n) / 72).toInt
        val until = (((i + 1) * n) / 72).toInt
        val chunk = new String(cps, from, until - from)
        Integer.parseInt(
          md5hex(chunk.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            .substring(0, 2), 16)
      }
    }
  }

  /** The media table: documents' text bytes as an opaque binary
    * payload plus a typed metadata struct. media_type assignment is
    * deterministic (doc_id mod 3) to exercise all three modalities.
    * `pmod`, not `%`: hash-derived doc_ids are negative half the time
    * in production, and the sign-preserving remainder indexes the
    * modality array at 0 (ANSI crash — the whole mm family on one
    * row) or -1 (silently the WRONG modality); found by
    * `DegenerateLakeSpec`'s negative-id rows. The oracle mirrors the
    * non-negative form; non-negative ids are unaffected.
    */
  def media(spark: SparkSession, dir: String): DataFrame =
    withMeta(spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("media_type"),
        col("text").cast("binary").as("payload")))

  /** Attach the typed metadata struct to any `(doc_id, media_type,
    * payload)` frame — the normalization seam every media ingress
    * shares (the parquet-derived [[media]] table and the raw-blob
    * directory read, [[graft.sources.BlobSource.readMedia]]), so
    * "media schema" is defined in exactly one place.
    */
  def withMeta(raw: DataFrame): DataFrame =
    raw.withColumn("meta", struct(
      octet_length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("payload_md5"),
      hex(expr("substring(payload, 1, 8)")).as("header_hex")))

  /** Native (codegen'd) metadata extraction — no decode needed:
    * byte size, content hash, leading-bytes hex "magic", and the
    * md5-derived dimensions the fake codec will agree with.
    */
  def metadata(spark: SparkSession, dir: String): DataFrame =
    metadataOf(media(spark, dir))

  /** [[metadata]] over an arbitrary media frame (ingress seam). */
  def metadataOf(mediaDf: DataFrame): DataFrame =
    metadataProjection(mediaDf).orderBy("doc_id")

  /** The metadata projection WITHOUT the presentation sort — every
    * column row-local, so it is legal over a STREAMING media frame
    * ([[graft.streaming.MmStream.catalog]]).
    */
  def metadataProjection(mediaDf: DataFrame): DataFrame =
    mediaDf
      .select(col("doc_id"), col("media_type"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.payload_md5").as("payload_md5"),
        col("meta.header_hex").as("header_hex"),
        (lit(16L) + expr("cast(conv(substr(meta.payload_md5, 1, 8), 16, 10) as bigint) % 240").cast("long")).as("width"),
        (lit(16L) + expr("cast(conv(substr(meta.payload_md5, 9, 8), 16, 10) as bigint) % 240").cast("long")).as("height"))

  /** Batched decode + frame sampling through the codec seam: one
    * codec per partition, per-row fan-out inside the iterator.
    */
  def decodeFrames(spark: SparkSession, dir: String,
      codec: Codec = FakeCodec): Dataset[Frame] = {
    import spark.implicits._
    media(spark, dir)
      .select(col("doc_id"), col("media_type"), col("payload"))
      .mapPartitions { rows: Iterator[Row] =>
        // production: codec/JNI handle initialized HERE, once per
        // partition, then reused for every payload in the batch.
        val c = codec
        rows.flatMap { r =>
          // null payload (failed fetch / stripped blob / null source
          // text) yields NO frames — the decode-stage contract; the
          // raw codec call was an NPE aborting the whole partition
          // (found by DegenerateLakeSpec).
          Option(r.getAs[Array[Byte]]("payload")).toSeq.flatMap { p =>
            val (frames, w, h) = c.decode(p)
            frames.zipWithIndex.map { case (fh, i) =>
              Frame(r.getAs[Long]("doc_id"), r.getAs[String]("media_type"),
                i.toLong, fh, w, h)
            }
          }
        }
      }
  }

  /** Registered frame query: decode output in deterministic order. */
  def frames(spark: SparkSession, dir: String): DataFrame =
    decodeFrames(spark, dir).toDF().orderBy("doc_id", "frame_ix")

  /** Resize planning — the pure-arithmetic half of a media resize
    * stage (the pixel work happens in the codec seam; WHAT size to
    * emit is engine logic): fit the longer side within `maxDim`,
    * preserve aspect ratio via integer scaling, never upscale. All
    * exact integers (scale in basis points), so the oracle matches
    * bit for bit; at scale this is a per-row codegen'd projection —
    * no decode, no shuffle.
    */
  def resizePlan(spark: SparkSession, dir: String, maxDim: Long = 128): DataFrame = {
    val longSide = greatest(col("width"), col("height"))
    val fits = longSide <= maxDim
    metadata(spark, dir)
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        when(fits, lit(10000L))
          .otherwise(expr(s"(10000 * $maxDim) div greatest(width, height)"))
          .cast("long").as("scale_bp"),
        when(fits, col("width"))
          .otherwise(expr(s"(width * $maxDim) div greatest(width, height)"))
          .cast("long").as("out_w"),
        when(fits, col("height"))
          .otherwise(expr(s"(height * $maxDim) div greatest(width, height)"))
          .cast("long").as("out_h"))
      .orderBy("doc_id")
  }

  /** Per-modality rollup over extracted metadata: one narrow scan +
    * one 3-group aggregation.
    */
  def typeRollup(spark: SparkSession, dir: String): DataFrame =
    metadata(spark, dir)
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_media"),
        sum("n_bytes").cast("long").as("sum_bytes"),
        max("n_bytes").cast("long").as("max_bytes"),
        expr("cast((sum(width) * 100) div count(1) as bigint)").as("mean_width_c"),
        expr("cast((sum(height) * 100) div count(1) as bigint)").as("mean_height_c"))
      .orderBy("media_type")

  /** Media content-hash dedup — the universal first rung of any
    * multimodal pipeline (identical images/audio re-crawled under
    * different ids): one group per (media_type, payload md5),
    * keeper = min doc_id, `copies > 1` marks droppables. The hash
    * comes from the metadata struct, NOT a decode — byte-identity
    * needs no codec, so this stays codegen'd row-local work plus one
    * aggregation with map-side partials at any corpus size.
    * (Perceptual near-dup — pHash over decoded frames — would ride
    * the Codec seam; content-hash is the exact rung.)
    */
  def dedupMedia(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir)
      .groupBy(col("media_type"), col("meta.payload_md5").as("payload_md5"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).as("copies"))
      .orderBy("media_type", "payload_md5")

  /** One decoded luma grid per media row. */
  final case class LumaGrid(doc_id: Long, media_type: String, luma: Seq[Int])

  /** Decode to luma grids through the codec seam — the same batched
    * per-partition contract as [[decodeFrames]] (codec initialized
    * once per partition, rows fed in batch).
    */
  def lumaGrids(mediaDf: DataFrame, codec: Codec = FakeCodec): DataFrame = {
    val spark = mediaDf.sparkSession
    import spark.implicits._
    mediaDf.select(col("doc_id"), col("media_type"), col("payload"))
      .mapPartitions { rows: Iterator[Row] =>
        val c = codec
        // null payloads yield no grid (the decodeFrames contract).
        rows.flatMap(r => Option(r.getAs[Array[Byte]]("payload")).map(p =>
          LumaGrid(r.getAs[Long]("doc_id"),
            r.getAs[String]("media_type"), c.lumaGrid(p))))
      }.toDF()
  }

  /** dHash (difference hash) over decoded luma grids: bit (r, c) = 1
    * iff luma brightens left-to-right between columns c and c+1 of
    * row r — 8 rows x 8 gradients = 64 bits, materialized as two
    * positive 32-bit halves `(dhash_lo, dhash_hi)` (the engine's
    * signed-64-portable convention, [[Dedup.simhashHalves]]). The
    * gradient is codec-independent engine logic — row-local
    * higher-order-function arithmetic over the 72-value array, no
    * shuffle, no UDF.
    */
  def dhashOf(grids: DataFrame): DataFrame = {
    def half(fromBit: Int): String =
      s"""aggregate(sequence($fromBit, ${fromBit + 31}), 0L, (acc, j) ->
         acc + IF(element_at(luma, cast((j div 8) * 9 + (j % 8) + 2 as int)) >
                  element_at(luma, cast((j div 8) * 9 + (j % 8) + 1 as int)),
                  shiftleft(1L, j - $fromBit), 0L))"""
    grids.select(col("doc_id"), col("media_type"),
      expr(half(0)).as("dhash_lo"), expr(half(32)).as("dhash_hi"))
  }

  /** Session-cached dHashes of a media frame: the band self-join
    * below consumes BOTH sides of this lineage, and without the
    * persist each side re-runs the whole decode (the
    * [[Dedup.simhashHalves]] arrangement; keyed by corpus, variant,
    * and codec so a custom codec never serves another's cache).
    */
  private def cachedHashes(spark: SparkSession, dir: String, variant: String,
      codec: Codec, mediaDf: => DataFrame): DataFrame = {
    import graft.sources.DfCache
    DfCache.getOrPersist(spark, s"mm_dhash:$variant:$dir:${codec.getClass.getName}")(
      dhashOf(lumaGrids(mediaDf, codec)))
  }

  /** Registered perceptual-hash query: one dHash per media row. */
  def perceptualHashes(spark: SparkSession, dir: String,
      codec: Codec = FakeCodec): DataFrame =
    cachedHashes(spark, dir, "base", codec, media(spark, dir))
      .orderBy("doc_id")

  /** Perceptual near-dup pairs over dHashes: candidates share one of
    * the 4 disjoint 16-bit signature bands, verified by exact
    * Hamming <= `maxHam` — the [[Dedup.simhashPairs]] shape applied
    * to media. This is the rung content-hash dedup ([[dedupMedia]])
    * cannot reach: a re-encoded/recompressed copy changes every
    * payload byte but decodes to almost the same pixels, so its luma
    * grid — and hence its dHash — lands within a few gradient bits
    * of the original (`MultimodalSpec` pins collapse + separation).
    *
    * Pigeonhole recall: maxHam <= 3 differing bits cannot touch all
    * 4 disjoint bands, so at least one band matches exactly and the
    * equi-join emits the pair; above 3 the bands are a high-recall
    * heuristic, exact only per the verified Hamming. Scale shape:
    * candidates come from band buckets (never all-pairs), the
    * quadratic term is bounded by per-bucket occupancy (2^16 buckets
    * per band), and verification is per-candidate O(1) bit math.
    */
  def neardupMedia(spark: SparkSession, dir: String, maxHam: Int = 3,
      codec: Codec = FakeCodec): DataFrame =
    neardupFromHashes(
      cachedHashes(spark, dir, "base", codec, media(spark, dir)), maxHam)

  /** The media table plus deterministically-planted RE-ENCODED twins
    * (the `text_html_extract` convention: the synthetic corpus holds
    * no true re-encodes — byte-different, pixel-near-identical
    * copies — so the registered demonstration constructs them
    * reproducibly): every mod-`mod` non-empty document re-appears
    * under `doc_id + 1000000` with one mid-text character spliced —
    * same length, different bytes, so the content hash breaks while
    * the luma grid moves in exactly one cell.
    */
  def mediaReencoded(spark: SparkSession, dir: String, mod: Int = 5): DataFrame = {
    val twins = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % mod === 0 && length(col("text")) > 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("media_type"),
        concat(
          expr("substring(text, 1, greatest(length(text) div 2, 1) - 1)"),
          lit("x"),
          expr("substring(text, greatest(length(text) div 2, 1) + 1)"))
          .cast("binary").as("payload"))
    media(spark, dir).select("doc_id", "media_type", "payload")
      .unionByName(twins)
  }

  /** Registered near-dup query: [[neardupMedia]] over
    * [[mediaReencoded]] — every planted twin must collapse onto its
    * original (Hamming <= 2: one changed cell touches at most two
    * gradient bits) exactly where [[dedupMedia]]'s content hash is
    * blind; organic same-length near-dups ride along.
    */
  def neardupReencoded(spark: SparkSession, dir: String, maxHam: Int = 3,
      codec: Codec = FakeCodec): DataFrame =
    neardupFromHashes(
      cachedHashes(spark, dir, "reenc", codec, mediaReencoded(spark, dir)),
      maxHam)

  /** [[neardupMedia]] from any `(doc_id, dhash_lo, dhash_hi)` frame —
    * the seam the spec drives with crafted payloads.
    */
  def neardupFromHashes(ph: DataFrame, maxHam: Int): DataFrame = {
    val spark = ph.sparkSession
    val bandIx = broadcast(
      spark.range(0, 4).select(col("id").cast("int").as("band_ix")))
    val bands = ph.crossJoin(bandIx)
      .select(col("doc_id"), col("dhash_lo"), col("dhash_hi"), col("band_ix"),
        expr("""CASE WHEN band_ix < 2 THEN shiftright(dhash_lo, band_ix * 16) % 65536
                     ELSE shiftright(dhash_hi, (band_ix - 2) * 16) % 65536 END""").as("band_v"))
    val cand = bands.select(col("doc_id").as("doc_x"), col("dhash_lo").as("lo_x"),
        col("dhash_hi").as("hi_x"), col("band_ix"), col("band_v"))
      .join(bands.select(col("doc_id").as("doc_y"), col("dhash_lo").as("lo_y"),
        col("dhash_hi").as("hi_y"), col("band_ix"), col("band_v")),
        Seq("band_ix", "band_v"))
      .where(col("doc_x") < col("doc_y"))
      .select("doc_x", "doc_y", "lo_x", "hi_x", "lo_y", "hi_y").distinct()
    cand
      .withColumn("hamming",
        expr("bit_count(lo_x ^ lo_y) + bit_count(hi_x ^ hi_y)").cast("long"))
      .where(col("hamming") <= maxHam)
      .select("doc_x", "doc_y", "hamming")
      // hamming is part of the order: a doc carrying BOTH an original
      // and a re-encode hash under one doc_id makes (doc_x, doc_y)
      // non-unique across replica pairs (x100 gate finding — engine-
      // dependent tie order, hash mismatch), so the pair alone is not
      // a total key.
      .orderBy("doc_x", "doc_y", "hamming")
  }
}
