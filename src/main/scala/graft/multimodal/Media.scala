package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque BINARY columns
  * with typed metadata (north-star operator family; no reference
  * counterpart — the reference is text-only).
  *
  * Design for 100 TB of media:
  *  - content is an opaque `BINARY` column + a typed metadata struct
  *    (format/width/height/sample_rate/n_frames) so planning-relevant
  *    fields are columnar (filter/prune on metadata NEVER touches bytes —
  *    parquet column pruning skips the blob pages entirely);
  *  - decode / feature-extract / resize / frame-sample run as
  *    partition-batched functions over the binary column — the Scala
  *    equivalent of arrow-batched `mapInPandas`: rows stream through a
  *    `mapPartitions`-style iterator in codec-sized batches, one model/codec
  *    instance per partition, never per row;
  *  - the codec layer itself is a STUB (no image/audio libraries in this
  *    container): `DecodeStub` produces deterministic fake pixels/frames
  *    from the bytes. The schema, batching, partitioning and operator
  *    surface are real and tested; swapping in a real codec touches ONLY
  *    `DecodeStub`.
  */
object Media extends graft.QueryModule {

  val FeatureDim = 64
  val BatchSize = 32 // codec batch: bounds per-batch memory at wide blobs

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("kind", StringType), // image | audio | video
    StructField("content", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** STUB codec layer — deterministic fakes standing in for libjpeg/ffmpeg.
    * Every function is a pure byte→value map so results are
    * partitioning-invariant and testable. */
  object DecodeStub {
    private def mix(z0: Long): Long = { // splitmix64 — public-domain mixer
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    private def seedOf(bytes: Array[Byte]): Long =
      bytes.foldLeft(1469598103934665603L)((h, b) => mix(h ^ (b & 0xffL)))

    /** "Decode + encode" a media blob into a feature vector — the shape a
      * real CLIP/wav2vec batch inference would produce (unit-norm float
      * array). ??? in spirit; deterministic in practice. */
    def features(bytes: Array[Byte]): Array[Float] = {
      val s = seedOf(bytes)
      val raw = Array.tabulate(FeatureDim)(i => mix(s + i).toDouble / Long.MaxValue)
      val norm = math.sqrt(raw.map(x => x * x).sum).max(1e-12)
      raw.map(x => (x / norm).toFloat)
    }

    /** "Re-encode at w×h" — byte-level stand-in for a real resampler. */
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte]((w.toLong * h % 4096).toInt.max(16))
      val s = seedOf(bytes) ^ (w.toLong << 32) ^ h
      var i = 0
      while (i < out.length) { out(i) = (mix(s + i) & 0xff).toByte; i += 1 }
      out
    }

    /** "Sample n frames" — slices the blob into n deterministic chunks (the
      * shape of ffmpeg keyframe extraction). */
    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      val len = bytes.length.max(1)
      (0 until n).map { i =>
        val from = (len.toLong * i / n).toInt
        val until = (len.toLong * (i + 1) / n).toInt.max(from + 1).min(len)
        java.util.Arrays.copyOfRange(bytes, from.min(len - 1), until)
      }
    }
  }

  /** The media table, served through the DSv2 `MediaSource` connector
    * (TableProvider + column-pruning scan — see MediaSource.scala; the
    * container ships no real media files, so rows generate
    * deterministically from media_id). Row count tracks the `documents`
    * table of the given SF dir so media scales with the corpus; the count
    * is a parquet metadata read, not a data scan. Scan-level column
    * pruning means a metadata-only query never constructs a blob —
    * asserted by MediaSourceSpec via the MediaGen.contentReads counter. */
  def mediaTable(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).count()
    s.read.format("graft.multimodal.MediaSource")
      .option("rows", n.toString).option("partitions", "8").load()
  }

  /** Feature extraction over the binary column, partition-batched. Encoder
    * output lands as ARRAY<FLOAT> ready for the Similarity LSH operators. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val schema = StructType(media.schema.fields :+
      StructField("features", ArrayType(FloatType)))
    val rdd = media.rdd.mapPartitions { rows =>
      // one codec instance per partition; rows stream through in batches
      rows.grouped(BatchSize).flatMap { batch =>
        batch.map { r =>
          val bytes = r.getAs[Array[Byte]]("content")
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ DecodeStub.features(bytes).toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Re-encode every image at w×h: metadata updates declaratively, only
    * the blob transform leaves Catalyst (partition-batched stub codec).
    * Same plumbing as a real thumbnailing pass. */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.rdd.mapPartitions { rows =>
      rows.map { r =>
        val kind = r.getAs[String]("kind")
        if (kind != "image") org.apache.spark.sql.Row.fromSeq(r.toSeq)
        else {
          val resized = DecodeStub.resize(r.getAs[Array[Byte]]("content"), w, h)
          val meta = r.getAs[org.apache.spark.sql.Row]("meta")
          org.apache.spark.sql.Row(
            r.getAs[Long]("media_id"), kind, resized,
            org.apache.spark.sql.Row(meta.getAs[String]("format"), w, h,
              meta.getAs[Int]("sample_rate"), meta.getAs[Int]("n_frames")))
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Frame sampling: one row per sampled frame (explode shape). Output is
    * (media_id, frame_no, frame BINARY) — downstream per-frame feature
    * extraction reuses extractFeatures on the frame column. */
  def sampleFrames(media: DataFrame, n: Int): DataFrame = {
    val spark = media.sparkSession
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_no", IntegerType),
      StructField("frame", BinaryType)))
    val rdd = media.filter(col("kind") === "video").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getAs[Long]("media_id")
        DecodeStub.frames(r.getAs[Array[Byte]]("content"), n)
          .zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.Row(id, i, f)
          }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  // --------------------------------------------------------------- queries
  /** Engine-only: metadata-pruned scan → batched feature extraction →
    * per-kind feature stats. The metadata filter runs BEFORE any codec
    * work — at scale the blob column is never read for filtered-out rows. */
  def m_media_features(s: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(s, dir).filter(col("meta.width") >= 64)
    extractFeatures(media)
      .select(col("media_id"), col("kind"),
        aggregate(col("features"), lit(0.0d), (a, x) => a + x * x).as("sq_norm"),
        element_at(col("features"), 1).as("f0"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("sq_norm")), 4).as("avg_sq_norm"),
        round(avg(col("f0")), 6).as("avg_f0"))
      .orderBy(col("kind"))
  }

  /** Perceptual-hash near-dup over ANY media frame: 64-bit pHash = the
    * sign bits of the decoded feature vector (aHash over the embedding —
    * Charikar simhash with axis-aligned hyperplanes; the LAION-style
    * CLIP-embedding dedup shape), then the same 16-bit band bucketing the
    * text SimHash path uses: candidates only materialize for band
    * collisions (equi-join on (band, key), never all-pairs), exact
    * Hamming re-score within buckets. */
  def phashDedup(media: DataFrame, maxHamming: Int = 12): DataFrame = {
    val sig = extractFeatures(media)
      .select(col("media_id"), col("kind"),
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> " +
          "acc | IF(element_at(features, i + 1) > 0.0D, " +
          "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))").as("phash"))
    val bands = sig.select(col("media_id"), col("phash"), explode(array(
      (0 until 4).map(i => struct(lit(i).as("band"),
        shiftright(col("phash"), i * 16).bitwiseAND(0xFFFFL).as("key"))): _*))
      .as("bk"))
      .select(col("media_id"), col("phash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = bands.as("a"); val b = bands.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key")
        && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Engine-only: the re-crawl dedup scenario — the corpus unioned with a
    * re-ingested copy of itself under fresh ids (what a second crawl of
    * the same pages produces). Every original must pair with its twin at
    * Hamming 0; random feature vectors collide in a 16-bit band ~2^-16
    * per band and survive Hamming ≤ 12 essentially never, so the output
    * is exactly the true duplicate set (MediaSpec asserts both sides). */
  def m_media_dedup(s: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(s, dir)
    // offset = row count = max(media_id) + 1 by construction (ids are
    // 0..n-1), so synthetic twin ids can NEVER collide with or interleave
    // into the original id space — a fixed constant offset silently
    // corrupts the twin-pair invariant once real ids outgrow it (round-6
    // advice item 2)
    val n = Tables.documents(s, dir).count()
    val reingested = media.withColumn("media_id", col("media_id") + lit(n))
    phashDedup(media.unionByName(reingested))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** IMAGE-TEXT PAIR ASSEMBLY — the training-pair table every multimodal
    * run consumes (the LAION shape: caption + image, one row per pair;
    * the multimodal analogue of the reference's comment→ticket nested
    * bind, /root/reference/src/wrangler.py:343-394, one modality up).
    *
    * The media side first passes the re-crawl pHash dedup (the
    * m_media_dedup scenario: corpus ∪ re-ingested copy under fresh ids):
    * non-canonical members of every perceptual-dup cluster drop, then the
    * surviving images join their caption documents on the pairing key.
    * The pairing key is media_id mod n (n = corpus size) — DELIBERATELY,
    * so a duplicate image that escaped the dedup still joins its caption
    * and surfaces as a duplicate pair row: the dedup's correctness is
    * structurally inside the oracle gate, not asserted off to the side.
    *
    * Fully hash-gated: the generator's splitmix64 id→metadata derivation
    * is pure 64-bit arithmetic, which the DuckDB twin reproduces exactly
    * (HUGEINT with explicit two's-complement wraparound), so kind
    * selection, width/height metadata, the dedup survivor set AND the
    * caption stats are all verified cross-engine. Feature vectors stay in
    * the rows-only twin m_image_text_pairs (float codec output has no
    * SQL twin).
    *
    * Scale: pHash dedup is band-bucketed candidate generation (never
    * all-pairs); the doc join is an equi-join on the pairing key — one
    * hash shuffle of the (already image-only, deduped) media side against
    * the caption table. */
  def q83_image_text_pairs(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Cleanse
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val media = mediaTable(s, dir)
    val union = media.unionByName(
      media.withColumn("media_id", col("media_id") + lit(n)))
    val dropped = phashDedup(union)
      .select(col("media_b").as("media_id")).distinct()
    val kept = union.join(dropped, Seq("media_id"), "left_anti")
    kept.filter(col("kind") === "image")
      .select(col("media_id"), (col("media_id") % n).as("doc_id"),
        col("meta.format").as("format"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(docs.select(col("doc_id"), col("lang"),
        col("n_chars").as("caption_chars"),
        size(Cleanse.tokens(col("text"))).as("caption_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("media_id"), col("format"),
        col("width"), col("height"), col("lang"),
        col("caption_chars"), col("caption_tokens"))
      .orderBy(col("doc_id"))
  }

  /** INTERLEAVED multimodal documents — the MMC4/OBELICS layout (Zhu et
    * al. 2023; Laurençon et al. 2023: a document is an ORDERED sequence of
    * text spans and image references), one modality up from q83's strict
    * one-image-one-caption rows and the multimodal twin of the nested
    * comment bind (`ingest.Tickets.bindComments` — reference
    * `wrangler.py:343-394`): children collect into a sorted array per
    * parent, except the children are images anchored at token positions.
    *
    * Derivation (all DuckDB-recomputable): each image lands in doc
    * `media_id % (n/8)` (several images per doc — the multi-image shape),
    * anchored at token position `width % (n_tokens+1)` (width is
    * splitmix64-derived metadata the twin replays in HUGEINT). Per doc the
    * anchors sort by (pos, media_id) and every anchor carries the digest
    * of the TEXT SPAN since the previous anchor — so span content,
    * ordering, and the trailing span all gate: the emitted items_md5 is
    * md5 of newline-joined "pos:media_id:md5(span)" lines plus a
    * "tail:md5(span)" line (the q74 engine-neutral-lines trick; raw
    * nested arrays crash the dump and to_json never hash-matches).
    *
    * Scale: one equi-join of the image side against the token table on
    * doc_id, one groupBy(doc_id) collect — identical shape to
    * bindComments; span digestion happens INSIDE the per-doc transform
    * (no explode of spans). */
  def q90_interleaved_docs(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Cleanse
    val docs = Tables.documents(s, dir)
    val n = docs.count()
    val m = math.max(n / 8, 1L)
    val images = mediaTable(s, dir).filter(col("kind") === "image")
      .select(col("media_id"), (col("media_id") % m).as("doc_id"),
        col("meta.width").as("width"))
    val toks = docs.select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
    val anchored = images.join(toks, "doc_id")
      .select(col("doc_id"), col("media_id"),
        (col("width").cast("long") % (size(col("t")) + 1)).as("pos"))
    anchored.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_images"),
        array_sort(collect_list(struct(col("pos"), col("media_id"))))
          .as("anchors"))
      .join(toks, "doc_id")
      .select(col("doc_id"), col("n_images"),
        expr("element_at(anchors, 1).pos").as("first_pos"),
        expr("element_at(anchors, -1).pos").as("last_pos"),
        md5(concat(concat_ws("\n", expr(
          """transform(anchors, (a, i) -> concat(
            |  CAST(a.pos AS STRING), ':', CAST(a.media_id AS STRING), ':',
            |  md5(CAST(array_join(slice(t,
            |    CAST(CASE WHEN i = 0 THEN 0
            |         ELSE element_at(anchors, i).pos END + 1 AS INT),
            |    CAST(a.pos - CASE WHEN i = 0 THEN 0
            |         ELSE element_at(anchors, i).pos END AS INT)), ' ')
            |    AS BINARY))))""".stripMargin)),
          lit("\ntail:"),
          md5(expr(
            "array_join(slice(t, CAST(element_at(anchors, -1).pos + 1 AS INT), " +
              "CAST(size(t) - element_at(anchors, -1).pos AS INT)), ' ')")
            .cast("binary"))).cast("binary")).as("items_md5"))
      .orderBy(col("doc_id"))
  }

  /** Rows-only companion of q83 carrying the modality payload the SQL twin
    * cannot reproduce: the image's 64-bit perceptual hash and a digest of
    * its feature vector — the columns a trainer would embed/rerank on.
    * Pair structure and metadata are gated by q83; determinism of the
    * features themselves by MediaSpec's partitioning-invariance test. */
  def m_image_text_pairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val feats = extractFeatures(mediaTable(s, dir).filter(col("kind") === "image"))
      .select(col("media_id").as("doc_id"),
        expr("aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> " +
          "acc | IF(element_at(features, i + 1) > 0.0D, " +
          "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT)))").as("phash"),
        md5(to_json(col("features")).cast("binary")).as("features_md5"))
    feats.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("phash"), col("features_md5"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Frame sampling + per-media frame size stats — HASH-GATED since
    * round 15 (previously engine-only m_media_frames): the sampler's
    * slice arithmetic is fully deterministic over the generator's blob,
    * so the DuckDB twin replays the content-LENGTH derivation (splitmix64
    * over seed id⊕0x5eed in HUGEINT limbs, exactly the q83 replay) and
    * the gate pins, per video, the frame count AND the total sampled
    * bytes — which equal the blob length iff the n slices tile [0, len)
    * with no gap or overlap. An off-by-one in the slice bounds (the
    * classic `len·i/n` rounding bug) changes total_bytes and fails the
    * hash. Feature extraction (m_media_features) stays engine-only: its
    * seed folds over every content BYTE, which has no tractable SQL
    * replay — its determinism contract lives in MediaSourceSpec. */
  def q154_media_frames(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(s, dir), n = 4)
      .select(col("media_id"), col("frame_no"), length(col("frame")).as("frame_bytes"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("frame_bytes")).as("total_bytes"))
      .orderBy(col("media_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_media_features" -> (m_media_features _),
    "q154_media_frames" -> (q154_media_frames _),
    "m_media_dedup"    -> (m_media_dedup _),
    "q83_image_text_pairs" -> (q83_image_text_pairs _),
    "q205_alignment_gate" -> (q205_alignment_gate _),
    "q90_interleaved_docs" -> (q90_interleaved_docs _),
    "m_image_text_pairs"   -> (m_image_text_pairs _))

  /** 64-bit unsigned multiply-mod-2^64 in DuckDB HUGEINT via 32-bit limb
    * split (a full 64×64 product overflows even signed 128-bit):
    * a·b mod 2^64 = (al·bl + ((al·bh + ah·bl) mod 2^32)·2^32) mod 2^64,
    * every partial product < 2^65. `x` must be a simple column reference. */
  private def mulmodSql(x: String, c: BigInt): String = {
    val base = BigInt(4294967296L)
    val lo = c % base
    val hi = c / base
    s"((($x % 4294967296) * $lo + " +
      s"((($x % 4294967296) * $hi + ($x // 4294967296) * $lo) % 4294967296)" +
      s" * 4294967296) % 18446744073709551616)"
  }

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  /** Generated twin of q83: MediaGen's splitmix64 (Steele et al., public
    * domain) reproduced step-for-step in HUGEINT arithmetic — add/multiply
    * wrap explicitly mod 2^64, shifts are floor-division, xor operates on
    * the nonnegative 64-bit representatives, and the final value converts
    * to two's-complement signed before the generator's pmod, so kind
    * selection and width/height agree with the JVM bit-for-bit. The dedup
    * survivor set falls out structurally: survivors are exactly the
    * original ids, so the twin enumerates documents' ids directly — a
    * Spark-side dedup miss would emit an extra pair row and fail the
    * row/hash gate. */
  private lazy val imageTextPairsOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929")) // 0xbf58476d1ce4e5b9
    val m3 = mulmodSql("x2", BigInt("10723151780598845931")) // 0x94d049bb133111eb
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
       |zs AS (SELECT id, v,
       |    CASE v WHEN 0 THEN CAST(id AS HUGEINT)
       |           WHEN 1 THEN xor(CAST(id AS HUGEINT), 1)
       |           ELSE xor(CAST(id AS HUGEINT), 2) END AS z
       |  FROM ids, (VALUES (0),(1),(2)) t(v)),
       |s1 AS (SELECT id, v, $z1 AS z1 FROM zs),
       |s2 AS (SELECT id, v, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT id, v, $m2 AS z2 FROM s2),
       |s4 AS (SELECT id, v, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT id, v, $m3 AS z3 FROM s4),
       |s6 AS (SELECT id, v, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sg AS (SELECT id, v,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |attrs AS (SELECT id,
       |    MAX(CASE WHEN v = 0 THEN ((x % 3) + 3) % 3 END) AS kidx,
       |    MAX(CASE WHEN v = 1 THEN ((x % 1920) + 1920) % 1920 + 16 END) AS w,
       |    MAX(CASE WHEN v = 2 THEN ((x % 1080) + 1080) % 1080 + 16 END) AS h
       |  FROM sg GROUP BY id)
       |SELECT d.doc_id, a.id AS media_id, 'jpeg' AS format,
       |  CAST(a.w AS INTEGER) AS width, CAST(a.h AS INTEGER) AS height,
       |  d.lang, d.n_chars AS caption_chars,
       |  CAST(len($DToks) AS INTEGER) AS caption_tokens
       |FROM attrs a JOIN documents d ON d.doc_id = a.id
       |WHERE a.kidx = 0
       |ORDER BY d.doc_id""".stripMargin
  }

  // ------------------------------------------------ q205 alignment gate
  private val AlignSalt = 77003L
  private val AlignMaxHamming = 26

  /** Image-text ALIGNMENT gate (q205) — the CLIP-score filter every
    * paired multimodal corpus runs before training (the LAION-400M
    * recipe: Schuhmann et al. 2021 drop pairs with CLIP cosine < 0.3;
    * DataComp's filtering tracks, Gadre et al. 2023, tune exactly this
    * gate): per q83 pair, compare a 64-bit image-side signature against
    * the caption's 64-bit SimHash and keep pairs whose Hamming
    * agreement clears the threshold.
    *
    * Stub-codec honesty (the container has no CLIP): in production the
    * image signature is the binarized image-tower embedding
    * (extractFeatures → sign bits, exactly [[m_image_text_pairs]]'s
    * phash); HERE it is metadata-seeded (splitmix64(media_id ⊕ salt))
    * so the ENTIRE gate — pair assembly, both signatures, the Hamming
    * comparison, every keep decision — replays in DuckDB and
    * hash-gates. The Spark-side plumbing (pair join, dual-modality
    * signature computation, integer threshold, keep flag) is the real
    * pipeline; only the image-tower bits are fake, behind the same seam
    * the codec stubs already occupy.
    *
    * Scale shape: the caption SimHash is the q73 one-shuffle native
    * aggregate; the image signature is map-side arithmetic; the gate is
    * one equi-join on doc_id — no new super-linear object. At 100 TB
    * the only change is swapping the seeded signature for the codec's
    * sign bits (same column, same types). */
  def q205_alignment_gate(s: SparkSession, dir: String): DataFrame = {
    val pairs = q83_image_text_pairs(s, dir)
      .select(col("doc_id"), col("media_id"), col("lang"))
    val sigs = graft.ml.Similarity.simhash(s, dir)
    pairs.join(sigs, Seq("doc_id"))
      .withColumn("img_sig", graft.rel.JoinCard.splitmix64(
        col("media_id").bitwiseXOR(lit(AlignSalt))))
      .withColumn("hamming",
        bit_count(col("img_sig").bitwiseXOR(col("simhash"))).cast("int"))
      .withColumn("keep", col("hamming") <= AlignMaxHamming)
      .select(col("doc_id"), col("media_id"), col("lang"),
        col("hamming"), col("keep"))
      .orderBy(col("doc_id"), col("media_id"))
  }

  /** Generated twin of q205: the q83 kind-derivation replay picks the
    * image ids, a second salted splitmix chain re-derives the image
    * signature, and the caption SimHash reuses the 64-conditional-sums
    * encoding from `Similarity.simhashCtes`. */
  private lazy val alignmentOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    val az1 = z1.replace("(z ", "(az ")
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
       |zs AS (SELECT id, CAST(id AS HUGEINT) AS z FROM ids),
       |s1 AS (SELECT id, $z1 AS z1 FROM zs),
       |s2 AS (SELECT id, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT id, $m2 AS z2 FROM s2),
       |s4 AS (SELECT id, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT id, $m3 AS z3 FROM s4),
       |s6 AS (SELECT id, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sg AS (SELECT id,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |imgs AS (SELECT id FROM sg WHERE ((x % 3) + 3) % 3 = 0),
       |azs AS (SELECT id, xor(CAST(id AS HUGEINT), $AlignSalt) AS az
       |  FROM imgs),
       |a1 AS (SELECT id, $az1 AS z1 FROM azs),
       |a2 AS (SELECT id, xor(z1, z1 // 1073741824) AS x1 FROM a1),
       |a3 AS (SELECT id, $m2 AS z2 FROM a2),
       |a4 AS (SELECT id, xor(z2, z2 // 134217728) AS x2 FROM a3),
       |a5 AS (SELECT id, $m3 AS z3 FROM a4),
       |a6 AS (SELECT id, xor(z3, z3 // 2147483648) AS m FROM a5),
       |asg AS (SELECT id,
       |    CAST(CASE WHEN m >= 9223372036854775808
       |         THEN m - 18446744073709551616
       |         ELSE m END AS BIGINT) AS img_sig
       |  FROM a6),
       |${graft.ml.Similarity.simhashCtes("sx")}
       |SELECT i.id AS doc_id, i.id AS media_id, d.lang,
       |  CAST(bit_count(xor(a.img_sig, sx.simhash)) AS INTEGER) AS hamming,
       |  bit_count(xor(a.img_sig, sx.simhash)) <= $AlignMaxHamming AS keep
       |FROM imgs i JOIN asg a ON a.id = i.id
       |JOIN documents d ON d.doc_id = i.id
       |JOIN sxsig sx ON sx.doc_id = i.id
       |ORDER BY doc_id, media_id""".stripMargin
  }

  /** Generated twin of q90: the same splitmix64 HUGEINT replay derives
    * kind + width, anchors re-sort by (pos, media_id), spans re-slice via
    * a LAG window, and the per-doc line digest reassembles byte-for-byte. */
  private lazy val interleavedDocsOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
       |zs AS (SELECT id, v,
       |    CASE v WHEN 0 THEN CAST(id AS HUGEINT)
       |           ELSE xor(CAST(id AS HUGEINT), 1) END AS z
       |  FROM ids, (VALUES (0),(1)) t(v)),
       |s1 AS (SELECT id, v, $z1 AS z1 FROM zs),
       |s2 AS (SELECT id, v, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT id, v, $m2 AS z2 FROM s2),
       |s4 AS (SELECT id, v, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT id, v, $m3 AS z3 FROM s4),
       |s6 AS (SELECT id, v, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sg AS (SELECT id, v,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |attrs AS (SELECT id,
       |    MAX(CASE WHEN v = 0 THEN ((x % 3) + 3) % 3 END) AS kidx,
       |    MAX(CASE WHEN v = 1 THEN ((x % 1920) + 1920) % 1920 + 16 END) AS w
       |  FROM sg GROUP BY id),
       |nn AS (SELECT greatest(COUNT(*) // 8, 1) AS m FROM documents),
       |imgs AS (SELECT a.id AS media_id, a.id % nn.m AS doc_id, a.w
       |  FROM attrs a, nn WHERE a.kidx = 0),
       |toks AS (SELECT doc_id, $DToks AS t FROM documents),
       |anch AS (SELECT i.doc_id, i.media_id,
       |    CAST(i.w % (len(t) + 1) AS BIGINT) AS pos, t
       |  FROM imgs i JOIN toks USING (doc_id)),
       |prevs AS (SELECT doc_id, media_id, pos, t,
       |    COALESCE(LAG(pos) OVER (PARTITION BY doc_id
       |      ORDER BY pos, media_id), 0) AS prev
       |  FROM anch),
       |lines AS (SELECT doc_id, pos, media_id, t,
       |    CAST(pos AS VARCHAR) || ':' || CAST(media_id AS VARCHAR) || ':' ||
       |    md5(COALESCE(array_to_string(
       |      t[CAST(prev + 1 AS INT):CAST(pos AS INT)], ' '), '')) AS line
       |  FROM prevs),
       |agg AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_images,
       |    MIN(pos) AS first_pos, MAX(pos) AS last_pos,
       |    string_agg(line, chr(10) ORDER BY pos, media_id) AS body,
       |    any_value(t) AS t
       |  FROM lines GROUP BY doc_id)
       |SELECT doc_id, n_images, first_pos, last_pos,
       |  md5(body || chr(10) || 'tail:' ||
       |    md5(COALESCE(array_to_string(
       |      t[CAST(last_pos + 1 AS INT):CAST(len(t) AS INT)], ' '), '')))
       |    AS items_md5
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** Generated twin of q154: splitmix64 HUGEINT replay of the generator's
    * kind (seed id) and content-length (seed id⊕0x5eed) derivations; the
    * Spark side's total sampled bytes must equal the replayed blob length
    * exactly (the 4 slices tile the blob), and the video id set must
    * match kidx = 2. */
  private lazy val mediaFramesOracle: String = {
    val z1 = "(z + 11400714819323198485) % 18446744073709551616"
    val m2 = mulmodSql("x1", BigInt("13787848793156543929"))
    val m3 = mulmodSql("x2", BigInt("10723151780598845931"))
    s"""WITH ids AS (SELECT doc_id AS id FROM documents),
       |zs AS (SELECT id, v,
       |    CASE v WHEN 0 THEN CAST(id AS HUGEINT)
       |           ELSE xor(CAST(id AS HUGEINT), 24301) END AS z
       |  FROM ids, (VALUES (0),(1)) t(v)),
       |s1 AS (SELECT id, v, $z1 AS z1 FROM zs),
       |s2 AS (SELECT id, v, xor(z1, z1 // 1073741824) AS x1 FROM s1),
       |s3 AS (SELECT id, v, $m2 AS z2 FROM s2),
       |s4 AS (SELECT id, v, xor(z2, z2 // 134217728) AS x2 FROM s3),
       |s5 AS (SELECT id, v, $m3 AS z3 FROM s4),
       |s6 AS (SELECT id, v, xor(z3, z3 // 2147483648) AS m FROM s5),
       |sg AS (SELECT id, v,
       |    CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616
       |         ELSE m END AS x
       |  FROM s6),
       |attrs AS (SELECT id,
       |    MAX(CASE WHEN v = 0 THEN ((x % 3) + 3) % 3 END) AS kidx,
       |    MAX(CASE WHEN v = 1 THEN ((x % 1800) + 1800) % 1800 + 200 END)
       |      AS len
       |  FROM sg GROUP BY id)
       |SELECT id AS media_id, CAST(4 AS BIGINT) AS n_frames,
       |  CAST(len AS BIGINT) AS total_bytes
       |FROM attrs WHERE kidx = 2 ORDER BY media_id""".stripMargin
  }

  override val oracle: Map[String, String] = Map(
    "q83_image_text_pairs" -> imageTextPairsOracle,
    "q205_alignment_gate" -> alignmentOracle,
    "q90_interleaved_docs" -> interleavedDocsOracle,
    "q154_media_frames" -> mediaFramesOracle)
}
