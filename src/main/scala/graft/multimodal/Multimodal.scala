package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages as partition-parallel typed transforms.
  *
  * The actual codecs are STUBBED (this container has no image/audio
  * libraries): [[decodeStub]] derives deterministic fake features from
  * the bytes. Everything Spark-side — schema, batch shape, partition
  * parallelism, typed Encoders — is real and tested, so swapping the
  * stub for a JNI/ffmpeg call changes one function body.
  */
object Multimodal {

  /** media(media_id, kind, bytes BINARY, meta STRUCT) — the canonical
    * multimodal layout: opaque payload + queryable typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("tag", StringType, nullable = true))), nullable = false)))

  /** Build a media table from the documents fixture: the UTF-8 payload
    * stands in for an undecodable blob. Pure expressions → pushdown-safe. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text").as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        length(encode(col("text"), "UTF-8")).as("n_bytes"),
        col("source").as("tag")).as("meta"))

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Int,
      checksum: Long, width: Int, height: Int)

  /** "Decode" each blob into features — a deterministic stand-in for an
    * image decode (checksum = byte sum; width/height from header bytes).
    * Runs as mapPartitions over the typed Dataset: the exact batch shape
    * a real decoder (or Pandas-UDF analog) needs — per-partition setup
    * amortized, no driver involvement, no shuffle. */
  def decodeStub(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "bytes")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition "codec init" would go here
        it.map { case (id, kind, bytes) =>
          var sum = 0L
          var i = 0
          while (i < bytes.length) { sum += bytes(i) & 0xff; i += 1 }
          val w = if (bytes.length >= 1) (bytes(0) & 0xff) else 0
          val h = if (bytes.length >= 2) (bytes(1) & 0xff) else 0
          MediaFeatures(id, kind, bytes.length, sum, w, h)
        }
      }
  }

  final case class ResizedMedia(media_id: Long, kind: String, bytes: Array[Byte])

  /** Resize stub: keep every `factor`-th byte of the payload — the
    * deterministic stand-in for an image downscale. Same mapPartitions
    * batch shape as [[decodeStub]]: per-partition codec init point,
    * streaming iterator, binary-in/binary-out typed rows. */
  def resizeStub(media: DataFrame, factor: Int): Dataset[ResizedMedia] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "bytes")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, kind, bytes) =>
          val out = new Array[Byte]((bytes.length + factor - 1) / factor)
          var i = 0
          while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
          ResizedMedia(id, kind, out)
        }
      }
  }

  /** Frame-sample stub: byte offsets of every `stride`-th "frame" — the
    * plumbing (explode to one row per frame, bounded by payload size)
    * is what matters; a real impl yields decoded frames instead.
    * Zero-length payloads have no frames and emit NO rows — ceil(size /
    * stride) rows per doc, matching the oracle's `range(0, n_bytes,
    * stride)` which is empty for n_bytes = 0. */
  def frameSample(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("meta.n_bytes") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.n_bytes") - 1, lit(stride)))
          .as("frame_offset"))

  /** Average-hash (aHash) perceptual fingerprint over the payload: the
    * classic image near-dup hash — threshold each "pixel" against the
    * frame mean, pack the bits. A real implementation feeds the decoded
    * 8×8 grayscale downsample; the stub's frame is the first 64 payload
    * bytes (the same decode boundary as [[decodeStub]] — swapping in a
    * codec changes the byte source, not the hash). Mean is the floor of
    * the integer byte sum (exact in any engine); bit b set iff byte b+1
    * is STRICTLY above the mean; missing bytes (payload shorter than the
    * frame) read as 0. Disjoint powers of two recombine by addition —
    * bit 63's term is Long.MinValue, sums never overflow
    * ([[graft.dedup.Dedup.simhash]]'s rationale).
    *
    * Pure Column expressions end to end — unlike the codec stubs this
    * IS Catalyst-expressible, so it stays inside whole-stage codegen and
    * under pushdown. Near-dup pairs over the hashes are the pigeonhole
    * band kernel: [[graft.dedup.Dedup.hammingPairs]]. */
  def aHash(media: DataFrame, frame: Int = 64): DataFrame = {
    require(frame >= 1 && frame <= 64, s"frame packs into one long, got $frame")
    val bl = expr(s"transform(sequence(1, $frame), __i -> " +
      "CASE WHEN length(__t) >= __i THEN CAST(ascii(substring(__t, __i, 1)) AS BIGINT) " +
      "ELSE CAST(0 AS BIGINT) END)")
    val mean = expr(s"aggregate(__bl, CAST(0 AS BIGINT), (__a, __x) -> __a + __x) div $frame")
    val packed = (0 until frame).map { b =>
      when(element_at(col("__bl"), b + 1) > col("__mean"), lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    media
      .select(col("media_id"), decode(col("bytes"), "UTF-8").as("__t"))
      .select(col("media_id"), bl.as("__bl"))
      .select(col("media_id"), col("__bl"), mean.as("__mean"))
      .select(col("media_id"), packed.as("ahash"))
  }

  /** Oracle twin of [[aHash]] over the documents-backed media table:
    * same frame bytes (ascii of the raw text — the payload IS the UTF-8
    * text), same floor-mean, same strict threshold and packing. */
  def aHashSql(table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text", frame: Int = 64): String = {
    val recombine = (0 until frame).map { b =>
      s"CASE WHEN bl[${b + 1}] > mean THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""WITH __abl AS (
       |  SELECT $idCol AS media_id,
       |         list_transform(range(1, ${frame + 1}), __i ->
       |           CASE WHEN length($textCol) >= __i
       |                THEN CAST(ascii(substr($textCol, __i, 1)) AS BIGINT)
       |                ELSE CAST(0 AS BIGINT) END) AS bl
       |  FROM $table
       |), __am AS (
       |  SELECT media_id, bl,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), bl), (__a, __x) -> __a + __x) // $frame AS mean
       |  FROM __abl
       |)
       |SELECT media_id, $recombine AS ahash FROM __am""".stripMargin
  }

  /** Per-frame aHash over the sampled frame stream: each
    * [[frameSample]] offset hashes its OWN `frame`-byte window — the
    * [[aHash]] kernel applied at an offset, same decode boundary (a
    * codec swap changes the byte source, not the hash or plumbing). */
  def frameHashes(media: DataFrame, stride: Int, frame: Int = 64): DataFrame = {
    require(frame >= 1 && frame <= 64, s"frame packs into one long, got $frame")
    val bl = expr(s"transform(sequence(1, $frame), __i -> " +
      "CASE WHEN length(__ft) >= __i THEN CAST(ascii(substring(__ft, __i, 1)) AS BIGINT) " +
      "ELSE CAST(0 AS BIGINT) END)")
    val mean = expr(s"aggregate(__bl, CAST(0 AS BIGINT), (__a, __x) -> __a + __x) div $frame")
    val packed = (0 until frame).map { b =>
      when(element_at(col("__bl"), b + 1) > col("__mean"), lit(1L << b))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    frameSample(media, stride)
      .join(media.select(col("media_id"), decode(col("bytes"), "UTF-8").as("__t")),
        Seq("media_id"))
      .select(col("media_id"), col("frame_offset"),
        expr(s"substring(__t, frame_offset + 1, $frame)").as("__ft"))
      .select(col("media_id"), col("frame_offset"), bl.as("__bl"))
      .select(col("media_id"), col("frame_offset"), col("__bl"), mean.as("__mean"))
      .select(col("media_id"), col("frame_offset"), packed.as("fhash"))
  }

  /** Scene-change detection over the frame-hash stream: a frame starts
    * a new scene when its perceptual hash is more than `maxHamming`
    * bits from the PREVIOUS frame's (the classic shot-boundary
    * heuristic). One adjacent lag per media — no pair joins; at scale
    * the window partition is a single media's frames. */
  def sceneBoundaries(media: DataFrame, stride: Int, maxHamming: Int,
      frame: Int = 64): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_offset")
    frameHashes(media, stride, frame)
      .withColumn("__prev", lag(col("fhash"), 1).over(w))
      .withColumn("hamming", when(col("__prev").isNotNull,
        bit_count(col("fhash").bitwiseXOR(col("__prev"))).cast("int")))
      .withColumn("is_boundary",
        coalesce(col("hamming") > maxHamming, lit(false)))
      .select("media_id", "frame_offset", "hamming", "is_boundary")
  }

  /** Oracle twin of [[sceneBoundaries]] over the documents-backed media
    * table — same windows, same floor-mean aHash at each offset, same
    * strict threshold. */
  def sceneBoundariesSql(stride: Int, maxHamming: Int, frame: Int = 64,
      table: String = "documents", idCol: String = "doc_id",
      textCol: String = "text"): String = {
    val recombine = (0 until frame).map { b =>
      s"CASE WHEN bl[${b + 1}] > mean THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    }.mkString(" + ")
    s"""WITH __fr AS (
       |  SELECT $idCol AS media_id, $textCol AS t,
       |         CAST(unnest(range(0, CAST(octet_length(encode($textCol)) AS BIGINT), $stride)) AS INTEGER) AS frame_offset
       |  FROM $table
       |), __ft AS (
       |  SELECT media_id, frame_offset, substr(t, frame_offset + 1, $frame) AS ft FROM __fr
       |), __bl AS (
       |  SELECT media_id, frame_offset,
       |         list_transform(range(1, ${frame + 1}), __i ->
       |           CASE WHEN length(ft) >= __i
       |                THEN CAST(ascii(substr(ft, __i, 1)) AS BIGINT)
       |                ELSE CAST(0 AS BIGINT) END) AS bl
       |  FROM __ft
       |), __m AS (
       |  SELECT media_id, frame_offset, bl,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT), bl), (__a, __x) -> __a + __x) // $frame AS mean
       |  FROM __bl
       |), __h AS (
       |  SELECT media_id, frame_offset, $recombine AS fhash FROM __m
       |), __l AS (
       |  SELECT media_id, frame_offset, fhash,
       |         lag(fhash) OVER (PARTITION BY media_id ORDER BY frame_offset) AS prev
       |  FROM __h
       |)
       |SELECT media_id, frame_offset,
       |       CAST(CASE WHEN prev IS NOT NULL THEN bit_count(xor(fhash, prev)) END AS INTEGER) AS hamming,
       |       coalesce(bit_count(xor(fhash, prev)) > $maxHamming, false) AS is_boundary
       |FROM __l""".stripMargin
  }

  /** Metadata projection used by the oracle-checked query: everything
    * here is expressible over the raw text in DuckDB (octet_length,
    * ascii) so the binary plumbing gets a cell-exact check too. */
  def metaQuery(docs: DataFrame): DataFrame =
    fromDocuments(docs).select(
      col("media_id"), col("kind"),
      col("meta.n_bytes").as("n_bytes"),
      col("meta.tag").as("tag"),
      ascii(substring(decode(col("bytes"), "UTF-8"), 1, 1)).as("first_byte"))
}
