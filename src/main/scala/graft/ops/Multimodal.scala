package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Multimodal column plumbing — north-star extension (SURVEY §2c): treat
  * image/audio/video payloads as opaque `BINARY` columns with typed
  * metadata, and run decode / feature-extraction as *batched
  * per-partition* transforms, the shape a real decoder (JNI codec, native
  * lib, model runtime) plugs into.
  *
  * The decode paths are REAL pure-JVM codecs — `javax.imageio` for PNG
  * ([[decodePng]], [[dHash]]), `javax.sound.sampled` for WAV
  * ([[decodeWav]], [[aHash]]), and the mime-dispatched
  * [[decodeFeatures]] moment extractor over a mixed corpus — inside
  * load-bearing plumbing a native codec (JNI, model runtime) plugs
  * straight into: the blob schema, the binary metadata expressions
  * (pure codegen — `length`/`substring`/`md5` all operate natively on
  * BINARY), the `mapPartitions` batch loop (one decoder init per
  * partition, not per row — the same amortization `mapInPandas` gives
  * Python UDFs), and the row-preserving output schema contract. Formats
  * whose codecs are NOT in the JVM (video containers, lossy audio) slot
  * into the same per-partition init seam each decoder marks.
  *
  * At 100 TB: blobs ride the same parquet scans as everything else
  * (columnar, so metadata-only queries never read the bytes column —
  * check `ReadSchema` in the plan), and decode parallelism is partition
  * parallelism. Frame sampling is byte slicing (`substring` on BINARY),
  * i.e. no decode at all for fixed-stride formats.
  */
object Multimodal {

  /** Blob table schema: payload + typed metadata, synthesized
    * deterministically from `documents` (text bytes stand in for media
    * bytes; width/height/duration derive from content length). */
  def asBlobTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("bytes"),
      lit("application/octet-stream").as("mime"),
      struct(
        (pmod(col("n_chars"), lit(640)) + 64).cast("int").as("width"),
        (pmod(col("n_chars"), lit(480)) + 48).cast("int").as("height"),
        (col("n_chars") / 100.0).as("duration_s")).as("meta"))

  /** Metadata + checksum extraction — pure binary expressions, no decode.
    * A scan-only query over blob metadata must prune the payload column;
    * see MultimodalSpec's ReadSchema assertion. */
  def blobMetadata(blobs: DataFrame): DataFrame =
    blobs.select(
      col("doc_id"),
      length(col("bytes")).cast("long").as("byte_len"),
      col("mime"),
      col("meta.width").as("width"),
      col("meta.height").as("height"),
      md5(col("bytes")).as("checksum"),
      hex(substring(col("bytes"), 1, 8)).as("prefix_hex"))

  /** Frame sampling as byte slicing: `n` evenly spaced fixed-size windows
    * of the payload (for real fixed-stride media, frame k = bytes
    * [k*stride, k*stride+frameSize)). One generator + binary substring —
    * no decoder in the loop. */
  def sampleFrames(blobs: DataFrame, n: Int = 4, frameSize: Int = 16): DataFrame =
    blobs.select(
      col("doc_id"),
      length(col("bytes")).cast("long").as("byte_len"),
      posexplode(expr(
        s"transform(sequence(0, ${n - 1}), " +
          s"k -> substring(bytes, CAST(k * greatest(length(bytes) div $n, 1) + 1 AS INT), $frameSize))"))
        .as(Seq("frame_idx", "frame_bytes")))

  /** Frame-fingerprint near-duplicate pairs — keyframe dedup for
    * fixed-stride media (the video story: two clips count as near-dups
    * when they share sampled keyframes byte-identically): each blob's
    * [[sampleFrames]] windows are fingerprinted, and a pair is emitted
    * per distinct (a, b) sharing at least one fingerprint.
    *
    * Scale shape: an inverted-index join on the frame fingerprint — the
    * `ngramJaccardPairs` discipline applied to media, including its skew
    * guard: fingerprints with document frequency above `maxDf` (an
    * all-black frame, a silence window) are dropped BY DEFAULT before the
    * self-join, because one corpus-wide hot frame contributes k²
    * candidate pairs. No decode anywhere — frames are byte slices. */
  def framePairs(blobs: DataFrame, maxDf: Option[Int] = Some(1000)): DataFrame = {
    val fp = sampleFrames(blobs)
      .select(col("doc_id"),
        graft.functions.CrossHash.h60(hex(col("frame_bytes"))).as("fp"))
      .distinct() // a frame repeated within one blob counts once
    val kept = maxDf match {
      case Some(cap) =>
        val hot = fp.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("fp")
        fp.join(hot, Seq("fp"), "left_anti")
      case None => fp
    }
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 1)
  }

  /** Fixed-stride byte downsample ("resize"): every `stride`-th byte of
    * the payload via the native codegen'd
    * [[graft.functions.ByteStride]] expression (no built-in subsamples
    * binary; an exploded byte array would allocate a row per byte). */
  def downsampleBytes(blobs: DataFrame, stride: Int): DataFrame = {
    blobs.select(
      col("doc_id"),
      length(col("bytes")).cast("long").as("byte_len"),
      expr(s"byte_stride(bytes, $stride)").as("ds_bytes"))
      .withColumn("ds_len", length(col("ds_bytes")).cast("long"))
  }

  /** Output schema of [[synthesizePng]]. */
  val pngBlobSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bytes", BinaryType),
    StructField("width", LongType),
    StructField("height", LongType)))

  /** Deterministic synthetic PNG corpus: one real 8-bit grayscale PNG per
    * document, pixel `(x, y) = (doc_id*31 + x*7 + y*13 +
    * (doc_id mod 9 + 1)·x·y) mod 256`, size
    * `(doc_id mod 16 + 8) × (doc_id mod 12 + 8)`. The generating formula
    * is pure integer arithmetic, so a SQL oracle can replay the expected
    * pixel statistics WITHOUT a decoder — which is what lets the real
    * codec path ([[decodePng]]) sit under the DuckDB gate: the gate
    * round-trips encode→PNG→decode→stats against the formula. The
    * per-document slope term `(doc_id mod 9 + 1)·x·y` makes the
    * corpus perceptually DIVERSE — without it every image is the same
    * linear gradient shifted, and [[pHashPairs]] degenerates to ~22% of
    * all pairs being "near-duplicates" (the measured density with the
    * slope is ~0.2%, with a small genuinely-identical-code cohort — the
    * realistic shape a media dedup gate should mine). */
  def synthesizePng(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(pngBlobSchema)
    docs.select("doc_id").mapPartitions { rows =>
      // ImageIO encode state is pinned once per JVM (no temp-file spool)
      CodecPin.ensure()
      rows.map { r =>
        val id = r.getLong(0)
        val w = (id % 16 + 8).toInt
        val h = (id % 12 + 8).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0,
              ((id * 31 + x * 7 + y * 13 + (id % 9 + 1) * x * y) % 256).toInt)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        Row(id, bos.toByteArray, w.toLong, h.toLong)
      }
    }(enc).toDF()
  }

  /** One-time per-JVM codec-state pin: by
    * default `ImageIO.read(InputStream)` spools the stream through a
    * TEMP FILE on disk (`FileCacheImageInputStream`) — for byte-array
    * payloads that is pure overhead, and it couples every decode's
    * latency to /tmp disk contention (the suspected cause of an earlier
    * mm_phash elevation once `decodeFeatures`' real decodes joined the
    * same JVM sweep). Pinning `useCache=false` makes every decode a
    * `MemoryCacheImageInputStream` — no filesystem touch. Executor-side:
    * called from each per-partition init point, so the pin lands in
    * every JVM that decodes, not just the driver. */
  private object CodecPin {
    @volatile private var done = false
    def ensure(): Unit = if (!done) synchronized {
      if (!done) {
        javax.imageio.ImageIO.setUseCache(false)
        done = true
      }
    }
  }

  /** Output schema of [[decodePng]]. */
  val decodedPngSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", LongType),
    StructField("height", LongType),
    StructField("mean_px", DoubleType),
    StructField("min_px", LongType),
    StructField("max_px", LongType)))

  /** REAL decode path: `javax.imageio` PNG decode inside the shared
    * partition-batched plumbing — the pure-JVM codec that exists in any
    * container (no native media libs needed). 8-bit grayscale PNG is
    * lossless, so decoded pixel statistics are exact and oracle-checkable
    * against the [[synthesizePng]] generating formula (gate
    * `mm_decode_png`). */
  def decodePng(blobs: DataFrame): DataFrame = {
    val input = blobs.select("doc_id", "bytes")
    val enc = RowEncoder.encoderFor(decodedPngSchema)
    input.mapPartitions { rows =>
      // per-partition init point (a native codec/model handle would live
      // here); ImageIO decode state is pinned once per JVM
      CodecPin.ensure()
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable PNG payload for doc $id")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var sum = 0L; var mn = 255; var mx = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = raster.getSample(x, y, 0)
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            x += 1
          }
          y += 1
        }
        Row(id, w.toLong, h.toLong, sum.toDouble / (w.toLong * h), mn.toLong, mx.toLong)
      }
    }(enc).toDF()
  }

  /** Output schema of [[dHash]]. */
  val dHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("phash", LongType)))

  /** Difference-hash grid: 8×8 nearest-neighbor samples, 7 horizontal
    * comparisons per row → a 56-bit code (fits a positive BIGINT in every
    * engine — no sign-bit wrap to reason about cross-engine). */
  val DHashGrid = 8

  /** Perceptual difference-hash (dHash) over the DECODED pixel grid — the
    * media half of the dedup story: decode each
    * PNG with the real JVM codec, nearest-neighbor-sample an 8×8 grid
    * (`sx = gx·w div 8`, `sy = gy·h div 8` — exact integer arithmetic, so
    * a SQL oracle can replay the sampled pixels from the generating
    * formula without a decoder), and set bit `gy·7 + gx` iff the grid
    * brightens left-to-right at that cell. Near-identical images differ in
    * a few bits; unrelated images differ in ~half.
    *
    * Same partition-batched decode plumbing as [[decodePng]]: one codec
    * init point per partition, one row in → one `(doc_id, phash)` row out.
    * At 100 TB this is the one full-decode pass over the image corpus; the
    * 8-byte codes it emits are what every downstream dedup stage joins on. */
  def dHash(blobs: DataFrame): DataFrame = {
    val input = blobs.select("doc_id", "bytes")
    val enc = RowEncoder.encoderFor(dHashSchema)
    val g = DHashGrid
    input.mapPartitions { rows =>
      // per-partition init point (a native codec/model handle would live
      // here); ImageIO decode state is pinned once per JVM
      CodecPin.ensure()
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, s"undecodable PNG payload for doc $id")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        var hash = 0L
        var gy = 0
        while (gy < g) {
          val sy = gy * h / g
          var gx = 0
          while (gx < g - 1) {
            val v1 = raster.getSample(gx * w / g, sy, 0)
            val v2 = raster.getSample((gx + 1) * w / g, sy, 0)
            if (v2 > v1) hash |= 1L << (gy * (g - 1) + gx)
            gx += 1
          }
          gy += 1
        }
        Row(id, hash)
      }
    }(enc).toDF()
  }

  /** Bands for [[pHashPairs]]: 4 bands × 14 bits cover the 56-bit code;
    * by pigeonhole any pair within Hamming distance 3 < 4 agrees on at
    * least one full band, so the band join is lossless at the default
    * radius (same contract as [[Dedup.simHashPairs]]'s byte-bands). */
  val PHashBands = 4
  val DefaultMaxHammingPx = 3

  /** Equivalence classes of IDENTICAL codes: one row per distinct code
    * value with the sorted member list — the [[Dedup.exactDedup]] agg-form
    * collapse applied to media codes. Real crawls are dense in exactly
    * identical media (blank images, logos, boilerplate audio), so every
    * miner in this family collapses equal codes FIRST and band-joins only
    * the distinct values: the join's input AND output then scale with
    * distinct-code collisions, not with duplicate multiplicity. One
    * shuffle on the 8-byte code; `collect_list` partial-aggregates
    * map-side. */
  private[graft] def codeClasses(codes: DataFrame, codeCol: String): DataFrame =
    codes.groupBy(col(codeCol))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"))

  /** The INTRA-class (Hamming 0) pair stream of [[classPairs]], exposed
    * pre-sort so the spec can measure the per-task pair volume of the
    * actual explode stages (the miner's final orderBy would re-range the
    * pairs and hide which task streamed them). See [[classPairs]] for
    * the block-decomposition contract. */
  private[graft] def intraClassPairs(classes: DataFrame, codeCol: String,
      blockSize: Int): DataFrame = {
    val small = classes.filter(size(col("members")) <= blockSize)
    val big = classes.filter(size(col("members")) > blockSize)
    val intraSmall = small
      .select(posexplode(col("members")).as(Seq("i", "da")), col("members"))
      .select(col("da"),
        explode(slice(col("members"), col("i") + lit(2), size(col("members")))).as("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(0L).as("hamming"))
    // big classes: sorted member blocks of `blockSize` (order preserved,
    // so block i's members all precede block j>i's — pair orientation is
    // free and enumeration is exactly-once by construction)
    val blocks = big.select(col(codeCol),
      posexplode(expr(
        s"transform(sequence(0, (size(members)-1) div $blockSize), " +
          s"b -> slice(members, b*$blockSize+1, $blockSize))"))
        .as(Seq("bi", "blk")))
    // range-partition the shards with an EXPLICIT partition count, for
    // two reasons: (a) a mega class has ONE code value, so hash placement
    // of its few (code, block) keys collides heavily — range spreads
    // consecutive block indices evenly by construction; (b) the shard
    // rows are tiny in BYTES pre-explode (compact member arrays), so
    // AQE's size-based coalescing would merge the shuffle back to one
    // partition and re-serialize the whole quadratic explode through one
    // task — an explicit count pins the distribution
    val nShuffle = classes.sparkSession.sessionState.conf.numShufflePartitions
    val intraSame = blocks
      .repartitionByRange(nShuffle, col(codeCol), col("bi"))
      .select(posexplode(col("blk")).as(Seq("i", "da")), col("blk"))
      .select(col("da"),
        explode(slice(col("blk"), col("i") + lit(2), size(col("blk")))).as("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(0L).as("hamming"))
    val intraCross = blocks.as("x")
      .join(blocks.as("y"),
        col(s"x.$codeCol") === col(s"y.$codeCol") && col("x.bi") < col("y.bi"))
      .select(col(s"x.$codeCol").as("c"), col("x.bi").as("bi"),
        col("y.bi").as("bj"), col("x.blk").as("ba"), col("y.blk").as("bb"))
      .repartitionByRange(nShuffle, col("c"), col("bi"), col("bj"))
      .select(explode(col("ba")).as("da"), col("bb"))
      .select(col("da").as("doc_a"), explode(col("bb")).as("doc_b"),
        lit(0L).as("hamming"))
    intraSmall.unionByName(intraSame).unionByName(intraCross)
  }

  /** Intra-class shard threshold of [[classPairs]]: classes at or under
    * it enumerate their pairs in one local double-explode; bigger classes
    * decompose into sorted member BLOCKS of this size first (same-block +
    * cross-block pair streams, each re-distributed across tasks), so one
    * saturated code value can never serialize its whole quadratic pair
    * stream onto a single task (100k identical blank thumbnails would
    * otherwise push ≈ 8n² bytes through ONE task). Per-task pair volume is
    * then bounded by ~BlockSize² ≈ 16M pairs regardless of class size. */
  val ClassBlockSize = 4096

  /** Shared miner core of [[pHashPairs]] and [[aHashPairs]]: exact-code
    * class collapse, then (a) INTRA-class pairs (Hamming 0) emitted by
    * membership arithmetic — small classes as a local double-explode of
    * the sorted member array (no join at all); classes above `blockSize`
    * through the [[graft.ops.Similarity]] block-pair discipline: the
    * member array splits into sorted blocks, same-block pairs double-
    * explode per block row and cross-block pairs explode per (block i,
    * block j) row, with both streams repartitioned on the block
    * coordinates so the quadratic output spreads across tasks — and (b)
    * CROSS-class pairs from a banded join over DISTINCT codes only,
    * expanded back to document pairs through the (small, Hamming-
    * verified) candidate code-pair list. N identical images thus
    * contribute ONE row to the band join instead of N — the previous
    * shape made N²/2 verified pairs *inside the shuffle join*, which AQE
    * skew-split cannot shrink because it re-partitions input, not output.
    * Pair OUTPUT is still inherently quadratic in
    * class size — that is the operator's contract — but it materializes
    * as distributed streamed explodes, never as join state and never
    * through one task (MultimodalSpec proves exactly-once enumeration +
    * the per-task bound on a crafted hot class). */
  private[graft] def classPairs(codes: DataFrame, codeCol: String,
      bandsOf: DataFrame => DataFrame, maxHamming: Int,
      blockSize: Int = ClassBlockSize): DataFrame = {
    // localCheckpoint, not persist: eagerly materialized once
    // (every consumer below needs it), blocks are ContextCleaner-reclaimed
    // when the frame is garbage-collected — repeated miner calls no longer
    // accumulate session-lifetime CacheManager entries
    val classes = codeClasses(codes, codeCol).localCheckpoint()
    val intra = intraClassPairs(classes, codeCol, blockSize)
    val banded = bandsOf(classes.select(col(codeCol)))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col(s"a.$codeCol") < col(s"b.$codeCol"))
      .select(col(s"a.$codeCol").as("code_a"), col(s"b.$codeCol").as("code_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("code_a").bitwiseXOR(col("code_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val cross = cand
      .join(classes.select(col(codeCol).as("code_a"), col("members").as("ma")), "code_a")
      .join(classes.select(col(codeCol).as("code_b"), col("members").as("mb")), "code_b")
      .select(explode(col("ma")).as("da"), col("mb"), col("hamming"))
      .select(col("da"), explode(col("mb")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.unionByName(cross)
  }

  /** Perceptual-hash near-duplicate IMAGE pairs: [[dHash]] codes mined
    * with the engine's banded-join discipline — candidates must collide on
    * one of 4 14-bit bands, then the exact Hamming distance verifies. The
    * shape is [[Dedup.simHashPairs]] applied to decoded media, hardened
    * for media's defining skew by [[classPairs]]' exact-duplicate
    * collapse: no all-pairs product anywhere, the band join sees one row
    * per DISTINCT code, and a saturated code value (a corpus of flat
    * images) costs one class row, not a quadratic join bucket. */
  def pHashPairs(blobs: DataFrame): DataFrame =
    classPairs(dHash(blobs), "phash", phashBands, DefaultMaxHammingPx)

  /** Cross-modal near-duplicate decision table — the paired-data (LAION-
    * style image+caption) dedup composite: one row per document pair
    * flagged by EITHER modality, with the image Hamming distance (from
    * [[pHashPairs]] over the decoded pixels), the caption SimHash Hamming
    * distance (from [[Dedup.simHashPairs]] over the text), and a
    * `both_modalities` verdict. A pair matching on both is a true
    * duplicate *pair* (same image, same caption → drop one); an
    * image-only match is a re-captioned image, a text-only match a
    * re-illustrated caption — the three cases a multimodal curation
    * policy treats differently, which is why this emits the full decision
    * table instead of pre-applying one rule.
    *
    * Scale shape: both inputs are banded-join COLLISION outputs (orders of
    * magnitude smaller than the corpus), so the full-outer alignment on
    * the pair key is a join of two small tables — the corpus is touched
    * exactly twice (one decode pass, one token pass), never pairwise. */
  def crossModalPairs(blobs: DataFrame, docs: DataFrame): DataFrame = {
    val img = pHashPairs(blobs).withColumnRenamed("hamming", "image_hamming")
    val txt = Dedup.simHashPairs(docs).withColumnRenamed("hamming", "text_hamming")
    img.join(txt, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"), col("image_hamming"), col("text_hamming"),
        (col("image_hamming").isNotNull && col("text_hamming").isNotNull)
          .as("both_modalities"))
  }

  /** The band rows of a DISTINCT-code frame (any other columns ride
    * along) — ONE banding scheme for the direct miner and the stored
    * index, so they cannot drift. Documents are collapsed into code
    * classes first, so band rows carry the code value only, never
    * per-document rows. */
  private[graft] def phashBands(codes: DataFrame): DataFrame = {
    val bandBits = (DHashGrid - 1) * DHashGrid / PHashBands
    codes.select(
      col("*"),
      posexplode(array((0 until PHashBands).map(b =>
        shiftright(col("phash"), b * bandBits)
          .bitwiseAND((1L << bandBits) - 1).cast("long")): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** Build-once half of the perceptual-hash build/query split — the media
    * twin of [[Dedup.buildBandIndex]]: the accumulated image corpus is
    * decoded ONCE, the band rows of its DISTINCT codes stored bucketed +
    * sorted on the probe key `(band_idx, band_val)` plus a
    * `<table>_codes` side table (one 2-long code row per image, bucketed
    * on `doc_id`) holding class membership and Hamming verification. The
    * band table scales with distinct codes — duplicate-dense media (the
    * normal case in crawls) collapses before it ever reaches the probe
    * join. At 100 TB the full-decode pass is the corpus-scale job you run
    * once; every new crawl batch probes the stored 8-byte codes. */
  def buildPhashIndex(blobs: DataFrame, table: String): Unit = {
    val codes = dHash(blobs).persist()
    try StoredIndex.build(phashIndex, table, blobs) {
      case "" => phashBands(codes.select("phash").distinct())
      case "_codes" => codes
    } finally codes.unpersist()
  }

  /** The phash index as a [[StoredIndex]] family: band rows of distinct
    * codes bucketed on the probe key, one code row per image in `_codes`
    * (the id table). */
  private val phashIndex = Family(
    n => s"kind=phash_bands,buckets=$n", "doc_id", "_codes",
    Seq(Part("", Seq("band_idx", "band_val"), Buckets),
      Part("_codes", Seq("doc_id"), Buckets)),
    bootstrap = true)

  /** Incremental-ingest half: the new batch decoded, its code rows
    * appended, and band rows appended ONLY for codes the stored index has
    * never seen (an anti-join of the batch's distinct codes against the
    * stored distinct-code set — read shuffle-free as the band table's
    * `band_idx = 0` slice, one row per stored code). dHash is per-image
    * independent, so the stored corpus is neither decoded nor rewritten,
    * and a two-batch index answers bit-identically to a one-shot build of
    * the union (MultimodalSpec). Batches must be doc-disjoint — the
    * standard append contract. */
  def appendToPhashIndex(newBlobs: DataFrame, table: String): Unit = {
    val spark = newBlobs.sparkSession
    val codes = dHash(newBlobs).persist()
    try StoredIndex.append(phashIndex, table, newBlobs) {
      case "" =>
        val batchCodes = codes.select("phash").distinct()
        phashBands(
          if (!spark.catalog.tableExists(table)) batchCodes
          else batchCodes.join(
            spark.table(table).filter(col("band_idx") === 0).select("phash"),
            Seq("phash"), "left_anti"))
      case "_codes" => codes
    } finally codes.unpersist()
  }

  /** Delete propagation — the FORGET half of the phash-index lifecycle,
    * the media twin of [[graft.ops.Dedup.purgeFromBandIndex]]: the
    * deleted images' code rows — and the band rows of any code thereby
    * ORPHANED (no surviving holder) — are physically removed through
    * [[graft.sources.Formats.purgeBucketed]]'s crash-safe rewrite and the
    * manifest folds the deleted ids out (xor is self-inverse) — no image
    * is ever re-decoded. After a purge the index answers bit-identically
    * to one rebuilt from the surviving blobs, manifest included
    * (PurgeSpec). Stamp, write order and crash contract:
    * [[graft.sources.StoredIndex]]. */
  def purgeFromPhashIndex(spark: SparkSession, table: String,
      deleteIds: DataFrame): Unit = {
    graft.sources.Formats.requireBuilt(spark, table)
    val del = deleteIds.select("doc_id").distinct()
    val codesTbl = spark.table(table + "_codes")
    // ORPHANED codes — every holder deleted — lose their band rows; a code
    // any survivor still holds keeps them. Collected eagerly BEFORE the
    // codes rewrite (the set it derives from is about to shrink); bounded
    // by the delete batch's distinct codes, the same driver budget as the
    // broadcast purge filter itself.
    import spark.implicits._
    val orphans = codesTbl.join(broadcast(del), Seq("doc_id"), "left_semi")
      .select("phash").distinct()
      .join(codesTbl.join(broadcast(del), Seq("doc_id"), "left_anti")
        .select("phash").distinct(), Seq("phash"), "left_anti")
      .as[Long].collect().toSeq.toDF("phash")
    StoredIndex.purge(spark, phashIndex, table, del, rewrite = {
      case "" => _.join(broadcast(orphans), Seq("phash"), "left_anti")
    })
  }

  /** Query-many half: near-duplicate image pairs BETWEEN the stored
    * corpus index (`doc_a`) and a new batch (`doc_b`) — only the BATCH is
    * decoded, and BOTH sides meet the band join exact-dup-collapsed:
    * the stored side holds distinct-code band rows by construction, the
    * batch side collapses through [[codeClasses]] at probe time. The band
    * join therefore produces candidate CODE pairs (distinct-collision-
    * sized, Hamming-verified while still collapsed), which expand to
    * document pairs only at output: one broadcast of the verified code
    * pairs against the stored `_codes` scan for the corpus members, one
    * explode of the batch class members. N stored copies of a logo probed
    * by M new copies cost one band-join row and stream N×M output rows,
    * instead of mining N×M pairs inside the shuffle. */
  def phashPairsIndexed(spark: SparkSession, table: String, newBlobs: DataFrame): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    // localCheckpoint, not persist — same session-cache-leak rationale as
    // classPairs
    val classesB = codeClasses(dHash(newBlobs), "phash").localCheckpoint()
    val cand = spark.table(table).as("x")
      .join(phashBands(classesB.select("phash")).as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val"))
      .select(col("x.phash").as("ph_a"), col("y.phash").as("ph_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long"))
      .filter(col("hamming") <= DefaultMaxHammingPx)
    spark.table(table + "_codes")
      .select(col("doc_id").as("doc_a"), col("phash").as("ph_a"))
      .join(broadcast(cand), "ph_a")
      .join(classesB.select(col("phash").as("ph_b"), col("members")), "ph_b")
      .select(col("doc_a"), explode(col("members")).as("doc_b"), col("hamming"))
  }

  /** Output schema of [[synthesizeWav]]. */
  val wavBlobSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bytes", BinaryType),
    StructField("n_samples", LongType),
    StructField("sample_rate", LongType)))

  /** Deterministic synthetic WAV corpus — the audio twin of
    * [[synthesizePng]]: one real 16-bit mono PCM WAV per document,
    * sample `i = ((doc_id*37 + i²*17 + (doc_id mod 13 + 1)·i) mod 65536)
    * - 32768`, length `doc_id mod 400 + 100` at 8 kHz. Pure integer
    * generating formula → the oracle replays expected sample statistics
    * with no decoder. The quadratic + per-document-slope terms give
    * each clip real envelope structure — the previous pure sawtooth made
    * every clip's windowed-mean profile IDENTICAL, collapsing [[aHash]]
    * to one code for the whole corpus (the same degeneracy the PNG
    * generator had for [[dHash]], fixed the same way; measured densities
    * with this formula: 463 distinct codes / ~0.4% near-dup pairs at 500
    * clips). */
  def synthesizeWav(docs: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(wavBlobSchema)
    docs.select("doc_id").mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val n = (id % 400 + 100).toInt
        val data = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = ((id * 37 + i.toLong * i * 17 + (id % 13 + 1) * i) % 65536 - 32768).toShort
          data(2 * i) = (s & 0xFF).toByte         // little-endian PCM
          data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Row(id, bos.toByteArray, n.toLong, 8000L)
      }
    }(enc).toDF()
  }

  /** Output schema of [[decodeWav]]. */
  val decodedWavSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_samples", LongType),
    StructField("sample_rate", LongType),
    StructField("mean_s", DoubleType),
    StructField("min_s", LongType),
    StructField("max_s", LongType)))

  /** REAL audio decode path: `javax.sound.sampled` WAV parse inside the
    * same partition-batched plumbing as [[decodePng]] — pure-JVM codec,
    * PCM is lossless, so decoded sample statistics are exact and
    * oracle-checkable against [[synthesizeWav]]'s generating formula
    * (gate `mm_decode_wav`). The mean is one IEEE division of exact
    * integer operands — bit-identical cross-engine. */
  def decodeWav(blobs: DataFrame): DataFrame = {
    val input = blobs.select("doc_id", "bytes")
    val enc = RowEncoder.encoderFor(decodedWavSchema)
    input.mapPartitions { rows =>
      // per-partition init point (a native codec handle would live here)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian, s"unexpected WAV format for doc $id: $fmt")
        val raw = ais.readAllBytes()
        val n = raw.length / 2
        var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
        var i = 0
        while (i < n) {
          val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xFF)).toShort.toInt
          sum += v; if (v < mn) mn = v; if (v > mx) mx = v
          i += 1
        }
        Row(id, n.toLong, fmt.getSampleRate.toLong, sum.toDouble / n,
          mn.toLong, mx.toLong)
      }
    }(enc).toDF()
  }

  /** Output schema of [[aHash]]. */
  val aHashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ahash", LongType)))

  /** Windows for [[aHash]]: 33 windows → 32 adjacent-mean comparisons →
    * a 32-bit code (4 × 8-bit bands, pigeonhole-lossless at Hamming ≤ 3). */
  val AHashWindows = 33

  /** Perceptual AUDIO fingerprint — the WAV twin of [[dHash]]: decode the
    * PCM payload with the real JVM codec, split the clip into 33
    * equal-count sample windows (`w = i·33 div n` — exact integer
    * arithmetic, replayable from the generating formula without a
    * decoder), and set bit w iff the clip gets LOUDER from window w to
    * w+1 (adjacent window-mean comparison, evaluated as the exact
    * cross-multiplication `sum_{w+1}·cnt_w > sum_w·cnt_{w+1}` so unequal
    * window sizes can never float-flip a bit). Near-identical clips
    * differ in a few bits; unrelated clips in ~half. One full-decode
    * pass; 4-byte codes downstream — the same economics as the image
    * tier. */
  def aHash(blobs: DataFrame): DataFrame = {
    val input = blobs.select("doc_id", "bytes")
    val enc = RowEncoder.encoderFor(aHashSchema)
    val nw = AHashWindows
    input.mapPartitions { rows =>
      // per-partition init point (a native codec handle would live here)
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian, s"unexpected WAV format for doc $id: $fmt")
        val raw = ais.readAllBytes()
        val n = raw.length / 2
        val sums = new Array[Long](nw)
        val cnts = new Array[Long](nw)
        var i = 0
        while (i < n) {
          val v = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xFF)).toShort.toInt
          val w = (i.toLong * nw / n).toInt
          sums(w) += v; cnts(w) += 1
          i += 1
        }
        var hash = 0L
        var w = 0
        while (w < nw - 1) {
          if (sums(w + 1) * cnts(w) > sums(w) * cnts(w + 1)) hash |= 1L << w
          w += 1
        }
        Row(id, hash)
      }
    }(enc).toDF()
  }

  /** Near-duplicate AUDIO pairs: [[aHash]] codes mined with the banded
    * discipline — 4 × 8-bit band collisions, exact Hamming verification
    * at radius ≤ 3 (lossless by pigeonhole) — over [[classPairs]]' exact-
    * duplicate class collapse, same as the image miner: boilerplate audio
    * (N identical clips) costs one class row in the band join, with the
    * N²/2 Hamming-0 pairs emitted by membership arithmetic. */
  def aHashPairs(blobs: DataFrame): DataFrame =
    classPairs(aHash(blobs), "ahash", codes =>
      codes.select(
        col("*"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("ahash"), b * 8).bitwiseAND(255L).cast("long")): _*))
          .as(Seq("band_idx", "band_val"))),
      DefaultMaxHammingPx)

  /** Output schema of [[decodeFeatures]]. */
  val featureSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_bytes", LongType),
    StructField("mime", StringType),
    StructField("feature", ArrayType(DoubleType))))

  /** REAL decode → feature-extract over a MIXED media corpus (this
    * retired the engine's last stand-in, `decodeStub`'s deterministic fake
    * features): one partition-batched
    * pass that DISPATCHES per row on the `mime` column — `image/png`
    * decodes through `javax.imageio` and emits PIXEL moments,
    * `audio/wav` through `javax.sound.sampled` and emits SAMPLE moments.
    * The feature vector is the 5 moments `[n_units, min, max, mean,
    * energy]` (energy = Σv²/n): every component is an exact integer
    * min/max/sum with at most one IEEE division, so the whole extraction
    * replays from the generating formulas in SQL with no decoder — the
    * same discipline that put [[decodePng]]/[[decodeWav]] under the
    * DuckDB gate. An unrecognized mime fails loudly (a silent skip would
    * under-featurize the corpus with no signal).
    *
    * The partition-amortized-init seam is kept: codec/model handles —
    * one per media kind — belong at the marked per-partition point, and
    * each row costs one dispatch on a string tag. At 100 TB this is the
    * one full-decode pass over the media corpus; the fixed-width moment
    * vectors it emits are what downstream similarity/dedup stages join
    * on. */
  def decodeFeatures(blobs: DataFrame): DataFrame = {
    val input = blobs.select("doc_id", "bytes", "mime")
    val enc = RowEncoder.encoderFor(featureSchema)
    input.mapPartitions { rows =>
      // per-partition init point: one decoder/model handle per media kind
      // lives here, amortized over the partition (the JVM sound stack is
      // stateless; ImageIO decode state is pinned once per JVM)
      CodecPin.ensure()
      rows.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val mime = r.getString(2)
        var sum = 0L; var sq = 0L
        var mn = Long.MaxValue; var mx = Long.MinValue; var n = 0L
        def fold(v: Long): Unit = {
          sum += v; sq += v * v
          if (v < mn) mn = v; if (v > mx) mx = v; n += 1
        }
        mime match {
          case "image/png" =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null, s"undecodable PNG payload for doc $id")
            val (w, h) = (img.getWidth, img.getHeight)
            val raster = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { fold(raster.getSample(x, y, 0).toLong); x += 1 }
              y += 1
            }
          case "audio/wav" =>
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
              !fmt.isBigEndian, s"unexpected WAV format for doc $id: $fmt")
            val raw = ais.readAllBytes()
            var i = 0
            while (i < raw.length / 2) {
              fold(((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xFF)).toShort.toLong)
              i += 1
            }
          case m => throw new IllegalArgumentException(
            s"unsupported media kind '$m' for doc $id — decodeFeatures " +
              "refuses to silently skip what it cannot decode")
        }
        require(n > 0, s"empty media payload for doc $id")
        Row(id, bytes.length.toLong, mime,
          Seq(n.toDouble, mn.toDouble, mx.toDouble,
            sum.toDouble / n, sq.toDouble / n))
      }
    }(enc).toDF()
  }
}
