package graft.sink

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema => ASchema}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** AVRO source/sink on the PLAIN Avro Java library (S-family breadth;
  * closes the round-7→12 recorded blocker).
  *
  * The blocker history: `spark-avro` (the DataSource module) has never been
  * in /opt/spark/jars and the offline resolver forbids adding it — but the
  * round-12 re-probe found the Avro CORE libraries (`avro-1.12.1.jar`,
  * `avro-mapred-1.12.1.jar` with `FsInput`) ARE on Spark's classpath,
  * which is everything a container-file reader/writer needs. So instead of
  * a format-string swap we build the path ourselves, Spark-shaped:
  *
  *  - WRITER: a distributed hive-partitioned sink — each task streams its
  *    rows into one Avro container file per partition value it encounters
  *    (`lang=en/part-<taskId>.avro`), through the Hadoop FileSystem API
  *    (the same dynamic-partition writer shape as Spark's own
  *    FileFormatWriter: no driver funnel, output parallelism = input
  *    partitions).
  *  - READER: a DataSource V2 table with the three scan properties a
  *    100 TB lake scan needs: (1) PARTITION PRUNING — EqualTo/In filters
  *    on the partition column prune whole directories before any file
  *    opens (AvroCounters.filesOpened makes it machine-checked); (2)
  *    COLUMN PRUNING — Avro is a row format so pruning saves decode, not
  *    I/O, and the reader materializes only requested fields; (3)
  *    SPLITTABLE FILES — container files are split by byte range on the
  *    embedded SYNC MARKERS (reader.sync(start) … pastSync(end)), the
  *    exact mechanics of avro-mapred's AvroInputFormat, so one big file
  *    still fans out across executors.
  *
  * Reference scope: the reference persists only JSON (wrangler.py:226-279);
  * Avro is lake-format breadth this engine adds alongside ORC (q88) and
  * JSONL (q91). The gated query q113 is the same round-trip contract as
  * q91: write documents lang-partitioned, read back through a pruning
  * filter, aggregate with a 48-bit md5-prefix text signature — the oracle
  * recomputes from parquet, so any loss in the write/read path (string
  * mangling, row loss, split double-reads) breaks the hash gate. */
object Avro extends graft.QueryModule {

  // ---------------------------------------------------------------- schema

  /** StructType → Avro record schema. Nullable fields become
    * union(null, T) — the standard Avro optionality encoding. */
  private[sink] def toAvroSchema(st: StructType, name: String): ASchema = {
    def prim(dt: DataType): ASchema = dt match {
      case LongType    => ASchema.create(ASchema.Type.LONG)
      case IntegerType => ASchema.create(ASchema.Type.INT)
      case DoubleType  => ASchema.create(ASchema.Type.DOUBLE)
      case FloatType   => ASchema.create(ASchema.Type.FLOAT)
      case StringType  => ASchema.create(ASchema.Type.STRING)
      case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
      case BinaryType  => ASchema.create(ASchema.Type.BYTES)
      case TimestampType =>
        LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
      case ArrayType(et, containsNull) =>
        ASchema.createArray(if (containsNull) nullable(prim(et)) else prim(et))
      case other => throw new IllegalArgumentException(
        s"graft Avro sink: unsupported Spark type $other")
    }
    def nullable(s: ASchema): ASchema =
      ASchema.createUnion(util.Arrays.asList(ASchema.create(ASchema.Type.NULL), s))
    val fields = st.fields.map { f =>
      val base = prim(f.dataType)
      new ASchema.Field(f.name, if (f.nullable) nullable(base) else base,
        null, if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null)
    }
    ASchema.createRecord(name, null, "graft.avro", false, fields.toList.asJava)
  }

  /** Avro record schema → StructType (reader side). union(null, T) →
    * nullable field. */
  private[sink] def toStructType(as: ASchema): StructType = {
    def field(s: ASchema): (DataType, Boolean) = s.getType match {
      case ASchema.Type.UNION =>
        val branches = s.getTypes.asScala
        val nonNull = branches.filter(_.getType != ASchema.Type.NULL)
        require(nonNull.size == 1,
          s"graft Avro source: only union(null, T) supported, got $s")
        (field(nonNull.head)._1, branches.size > nonNull.size)
      case ASchema.Type.LONG =>
        val dt = s.getLogicalType match {
          case _: LogicalTypes.TimestampMicros => TimestampType
          case _ => LongType
        }
        (dt, false)
      case ASchema.Type.INT     => (IntegerType, false)
      case ASchema.Type.DOUBLE  => (DoubleType, false)
      case ASchema.Type.FLOAT   => (FloatType, false)
      case ASchema.Type.STRING  => (StringType, false)
      case ASchema.Type.BOOLEAN => (BooleanType, false)
      case ASchema.Type.BYTES   => (BinaryType, false)
      case ASchema.Type.ARRAY =>
        val (et, en) = field(s.getElementType)
        (ArrayType(et, en), false)
      case other => throw new IllegalArgumentException(
        s"graft Avro source: unsupported Avro type $other")
    }
    StructType(as.getFields.asScala.toSeq.map { f =>
      val (dt, n) = field(f.schema())
      StructField(f.name(), dt, n)
    })
  }

  // ---------------------------------------------------------------- writer

  /** Row value → Avro-writable value for one field. */
  private def toAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: Array[Byte], BinaryType) => ByteBuffer.wrap(b)
    case (t: java.sql.Timestamp, TimestampType) =>
      t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    case (t: java.time.Instant, TimestampType) =>
      t.getEpochSecond * 1000000L + t.getNano / 1000L
    case (seq: scala.collection.Seq[_], ArrayType(et, _)) =>
      val out = new util.ArrayList[Any](seq.size)
      seq.foreach(e => out.add(toAvroValue(e, et)))
      out
    case (other, _) => other // long/int/double/float/boolean/string direct
  }

  /** Distributed hive-partitioned Avro write (overwrite semantics): each
    * task writes `outDir/<col>=<value>/part-<taskId>.avro` per partition
    * value it holds. Callers wanting one file per partition value
    * `.repartition(col)` first; callers wanting bounded writer fan-out
    * sort within partitions — the same contract as Spark's own sink.
    * All I/O goes through the Hadoop FileSystem API, so the path scheme
    * (file://, hdfs://, s3a://) picks the implementation. */
  def writePartitioned(df: DataFrame, outDir: String, partitionCol: String,
      segRows: Int = 4096): Unit = {
    val schema = df.schema
    val pIdx = schema.fieldIndex(partitionCol)
    val dataSchema = StructType(schema.fields.filterNot(_.name == partitionCol))
    val dataIdx = dataSchema.fields.map(f => schema.fieldIndex(f.name))
    // per-file min/max stats for integral fields (the Skipping.scala
    // zone-map pattern, r16 verdict item 5): each task appends one
    // `_stats/part-<idx>.txt` sidecar — `relPath|field|min|max` lines —
    // the reader consults for NON-partition predicates. Row formats
    // can't skip inside a file, but a lake can skip whole files.
    // SUB-FILE granularity (r18 verdict item 6): every `segRows` rows the
    // writer forces a block boundary (DataFileWriter.sync — the position
    // is a DataFileReader-seekable block start) and emits a SEGMENT line
    // `relPath|field|segStart|segEnd|min|max`, so the reader's byte-range
    // splits inside one big file can be skipped without opening it — the
    // parquet row-group-pruning contract brought to the row format.
    // Segment lines appear only when a file spans ≥2 segments; old dirs
    // (and small files) carry file-level lines alone and never skip.
    val statIdx: Array[(String, Int)] = dataSchema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType =>
        (f.name, schema.fieldIndex(f.name))
    }
    val avroJson = toAvroSchema(dataSchema, "graft_record").toString
    val conf = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val out = new Path(outDir)
    val fsRoot = out.getFileSystem(conf.value)
    if (fsRoot.exists(out)) fsRoot.delete(out, true)
    fsRoot.mkdirs(out)
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val avSchema = new ASchema.Parser().parse(avroJson)
      val fieldTypes = dataSchema.fields.map(_.dataType)
      val writers = mutable.Map.empty[String, DataFileWriter[GenericRecord]]
      def freshStats() =
        Array.fill(statIdx.length)((Long.MaxValue, Long.MinValue, false))
      // pv -> per-stat-field (min, max, sawNonNull), whole file
      val fileStats = mutable.Map.empty[String, Array[(Long, Long, Boolean)]]
      // pv -> (closed segments (start, end, stats), open-segment start,
      //        open-segment stats, rows in open segment)
      final class SegTracker {
        val closed = mutable.ArrayBuffer
          .empty[(Long, Long, Array[(Long, Long, Boolean)])]
        var segStart = 0L
        var cur: Array[(Long, Long, Boolean)] = freshStats()
        var rowsInSeg = 0
      }
      val segStats = mutable.Map.empty[String, SegTracker]
      def bump(st: Array[(Long, Long, Boolean)], row: org.apache.spark.sql.Row)
          : Unit = {
        var j = 0
        while (j < statIdx.length) {
          row.get(statIdx(j)._2) match {
            case null => ()
            case n: Number =>
              val v = n.longValue()
              val (mn, mx, _) = st(j)
              st(j) = (math.min(mn, v), math.max(mx, v), true)
            case _ => ()
          }
          j += 1
        }
      }
      rows.foreach { row =>
        val pv = String.valueOf(row.get(pIdx))
        val w = writers.getOrElseUpdate(pv, {
          val p = new Path(s"$outDir/$partitionCol=$pv/part-$idx.avro")
          val os = p.getFileSystem(conf.value).create(p, true)
          val dw = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](avSchema))
          dw.create(avSchema, os)
        })
        val st = fileStats.getOrElseUpdate(pv, freshStats())
        bump(st, row)
        val seg = segStats.getOrElseUpdate(pv, new SegTracker)
        bump(seg.cur, row)
        val rec = new GenericData.Record(avSchema)
        var i = 0
        while (i < dataIdx.length) {
          rec.put(i, toAvroValue(row.get(dataIdx(i)), fieldTypes(i)))
          i += 1
        }
        w.append(rec)
        seg.rowsInSeg += 1
        if (seg.rowsInSeg >= segRows) {
          // force a block boundary; pos is the next block's start, i.e.
          // the first byte the NEXT segment's records can live at
          val pos = w.sync()
          seg.closed += ((seg.segStart, pos, seg.cur))
          seg.segStart = pos
          seg.cur = freshStats()
          seg.rowsInSeg = 0
        }
      }
      writers.values.foreach(_.close())
      if (fileStats.nonEmpty) {
        val lines = fileStats.toSeq.sortBy(_._1).flatMap { case (pv, st) =>
          val rel = s"$partitionCol=$pv/part-$idx.avro"
          val fileLines = statIdx.indices.collect {
            case j if st(j)._3 => s"$rel|${statIdx(j)._1}|${st(j)._1}|${st(j)._2}"
          }
          // segment lines only when the file really has ≥2 segments; the
          // tail segment (rows since the last sync) spans to MaxValue so
          // trailing blocks are always covered
          val segLines = segStats.get(pv).toSeq.flatMap { seg =>
            val all = seg.closed ++
              (if (seg.rowsInSeg > 0)
                 Seq((seg.segStart, Long.MaxValue, seg.cur))
               else Nil)
            if (all.size < 2) Nil
            else all.flatMap { case (a, b, sst) =>
              statIdx.indices.collect {
                case j if sst(j)._3 =>
                  s"$rel|${statIdx(j)._1}|$a|$b|${sst(j)._1}|${sst(j)._2}"
              }
            }
          }
          fileLines ++ segLines
        }
        val sp = new Path(s"$outDir/_stats/part-$idx.txt")
        val os = sp.getFileSystem(conf.value).create(sp, true)
        try os.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally os.close()
      }
      Iterator.single(writers.size)
    }.count() // the action that runs the distributed write
    // commit marker, matching the lake writer's convention
    fsRoot.create(new Path(out, "_SUCCESS"), true).close()
  }

  // ----------------------------------------------------------------- query

  /** Write + pruned-read + aggregate, PRE-checkpoint — exposed so AvroSpec
    * can assert pushed filters / pruned columns on the live DSv2 scan. */
  private[sink] def avroRoundTripAgg(s: SparkSession, dir: String,
      out: String): DataFrame = {
    writePartitioned(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")),
      out, "lang")
    s.read.format("graft.sink.AvroSource").load(out)
      .filter(col("lang").isin("en", "de")) // pruned to two directories
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        // 48-bit md5-prefix sum: string fidelity through the Avro
        // Utf8 encode/decode cycle gates content-exact (q91's rule)
        sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long")).cast("long").as("text_sig"))
      .orderBy(col("source"))
  }

  def q113_avro_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = Orc.scratchDir(s) + "_avro"
    val pinned = avroRoundTripAgg(s, dir, out).localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    pinned
  }

  /** Schema evolution through the Avro resolution rules (q132): the lake
    * holds v1 container files; the read pins a v2 READER schema that (a)
    * DROPS `text` (decoder skips the bytes — the column-prune analogue a
    * row format can offer), (b) RENAMES `n_chars` → `chars` via an Avro
    * alias, and (c) ADDS `quality` with default 7, filled for every v1
    * record. This is the production catalog-schema read: writers upgrade
    * asynchronously while readers run the pinned new schema against old
    * and new files alike. The aggregate proves all three legs: sum_chars
    * flows through the alias, sum_quality = 7·n proves default fill, and
    * the dropped column never reaches the scan schema. */
  private[sink] val EvolvedReaderSchema: String =
    """{"type":"record","name":"graft_record","namespace":"graft.avro",
      |"fields":[
      | {"name":"doc_id","type":["null","long"],"default":null},
      | {"name":"source","type":["null","string"],"default":null},
      | {"name":"chars","type":["null","long"],"default":null,
      |  "aliases":["n_chars"]},
      | {"name":"quality","type":"long","default":7}]}""".stripMargin

  /** PRE-checkpoint frame, exposed for AvroSpec plan/pruning assertions. */
  private[sink] def avroEvolutionAgg(s: SparkSession, dir: String,
      out: String): DataFrame = {
    writePartitioned(
      graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")),
      out, "lang")
    s.read.format("graft.sink.AvroSource")
      .option("readerSchema", EvolvedReaderSchema).load(out)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("chars")).cast("long").as("sum_chars"),
        sum(col("quality")).cast("long").as("sum_quality"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang"), col("source"))
  }

  def q132_avro_evolution(s: SparkSession, dir: String): DataFrame = {
    val out = Orc.scratchDir(s) + "_avroevo"
    val pinned = avroEvolutionAgg(s, dir, out).localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    pinned
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q113_avro_roundtrip" -> (q113_avro_roundtrip _),
    "q132_avro_evolution" -> (q132_avro_evolution _))

  override val oracle: Map[String, String] = Map(
    "q113_avro_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        | CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |   AS text_sig
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY source ORDER BY source""".stripMargin,
    // v2 reader over v1 files: alias carries n_chars, default fills
    // quality = 7 per record, text never decodes
    "q132_avro_evolution" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | CAST(7 * COUNT(*) AS BIGINT) AS sum_quality,
        | MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)
}

/** Hadoop Configuration is not Serializable; this is the standard
  * write()/readFields() envelope so tasks get the DRIVER's filesystem
  * configuration (credentials, scheme impls) instead of a default-
  * constructed one. */
private[sink] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Machine-check hooks for the pruning claims (MediaGen.contentReads'
  * pattern): filesOpened counts DataFileReader opens, so AvroSpec can
  * assert a lang-filtered scan opens ONLY the matching directories'
  * files. */
object AvroCounters {
  val filesOpened = new java.util.concurrent.atomic.AtomicLong(0)
  /** Files a scan dropped from zone-map sidecars alone (driver-side,
    * before any open) — the machine check for the r17 skipping rung. */
  val filesSkippedByStats = new java.util.concurrent.atomic.AtomicLong(0)
  /** Byte-range splits a scan planned / dropped via SEGMENT zone maps
    * (r18 verdict item 6) — splitsSkipped > 0 under a selective filter
    * on a multi-block file is the sub-file-skipping machine check. */
  val splitsPlanned = new java.util.concurrent.atomic.AtomicLong(0)
  val splitsSkippedByStats = new java.util.concurrent.atomic.AtomicLong(0)
}

/** DSv2 table provider: `spark.read.format("graft.sink.AvroSource")
  * .option("splitBytes", n).load(dir)`. Discovers one optional
  * `col=value` hive partition level; infers the data schema from the
  * first file's embedded writer schema (one driver-side header read —
  * a production catalog would pin the schema instead). */
class AvroSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val layout = AvroLayout.discover(options.get("path"),
      Option(options.get("readerSchema")))
    layout.sparkSchema
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AvroTable(
      AvroLayout.discover(opts.get("path"), Option(opts.get("readerSchema"))),
      opts.getLong("splitBytes", 32L * 1024 * 1024))
  }
}

/** Driver-side layout: file list per partition value (or None for an
  * unpartitioned dir), plus the inferred schema. Listing is one
  * FileSystem pass; at lake scale this is the manifest read. */
private[sink] case class AvroLayout(
    root: String,
    partitionCol: Option[String],
    // (partition value or "", file path, file length)
    files: Seq[(String, String, Long)],
    dataSchema: StructType,
    // Avro READER schema (JSON) for schema evolution: when set, records
    // resolve writer→reader per the Avro spec (added fields fill their
    // defaults, dropped fields are skipped during decode, aliases map
    // renamed fields) — the catalog-pinned-schema read path.
    readerSchemaJson: Option[String] = None,
    // per-file zone maps from the writer's `_stats` sidecars:
    // relPath -> field -> (min, max). Missing entries read as
    // "unknown" (never skip) — old dirs without sidecars still work.
    stats: Map[String, Map[String, (Long, Long)]] = Map.empty,
    // per-SEGMENT zone maps (r18 verdict item 6): relPath -> ordered
    // (blockRangeStart, blockRangeEnd, field -> (min, max)) — the
    // sub-file granularity that lets byte-range splits skip inside one
    // big file. Absent for old dirs and single-segment files.
    segStats: Map[String, Seq[(Long, Long, Map[String, (Long, Long)])]] =
      Map.empty) {
  def sparkSchema: StructType = partitionCol match {
    case Some(c) => StructType(dataSchema.fields :+ StructField(c, StringType, false))
    case None    => dataSchema
  }
}

private[sink] object AvroLayout {
  private val PartDir = "^([A-Za-z_][A-Za-z0-9_]*)=(.*)$".r

  def discover(path: String,
      readerSchemaJson: Option[String] = None): AvroLayout = {
    require(path != null, "graft Avro source: path option required")
    val conf = new Configuration()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val children = fs.listStatus(root).toSeq
    val partDirs = children.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case PartDir(c, v) => Some((c, v, st.getPath))
        case _             => None
      }
    }
    def avroFiles(dir: Path): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
        .map(st => (st.getPath.toString, st.getLen))
    val (partitionCol, files) =
      if (partDirs.nonEmpty) {
        val cols = partDirs.map(_._1).distinct
        require(cols.size == 1,
          s"graft Avro source: mixed partition columns $cols under $path")
        (Some(cols.head),
          partDirs.flatMap { case (_, v, d) => avroFiles(d).map(f => (v, f._1, f._2)) })
      } else
        (None, avroFiles(root).map(f => ("", f._1, f._2)))
    require(files.nonEmpty, s"graft Avro source: no .avro files under $path")
    // the table schema: the pinned reader schema when evolving, else one
    // header read for the writer schema
    val avSchema = readerSchemaJson match {
      case Some(json) => new ASchema.Parser().parse(json)
      case None =>
        val in = new FsInput(new Path(files.head._2), conf)
        val rdr = new DataFileReader[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        val ws = rdr.getSchema
        rdr.close()
        ws
    }
    // zone-map sidecars (one manifest-scale driver read, like the file
    // listing itself): 4-field `rel|field|min|max` lines are file-level;
    // 6-field `rel|field|segStart|segEnd|min|max` lines are per-segment
    val statsDir = new Path(root, "_stats")
    val rawLines: Seq[Array[String]] =
      if (!fs.exists(statsDir)) Nil
      else fs.listStatus(statsDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".txt"))
        .flatMap { st =>
          val in = fs.open(st.getPath)
          val text =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          text.split("\n").filter(_.nonEmpty).map(_.split("\\|"))
        }
    val stats: Map[String, Map[String, (Long, Long)]] = rawLines
      .collect { case Array(rel, field, mn, mx) => (rel, field, mn.toLong, mx.toLong) }
      .groupBy(_._1)
      .map { case (rel, rows) =>
        rel -> rows.map(r => r._2 -> (r._3, r._4)).toMap
      }
    val segStats: Map[String, Seq[(Long, Long, Map[String, (Long, Long)])]] =
      rawLines
        .collect { case Array(rel, field, a, b, mn, mx) =>
          (rel, a.toLong, b.toLong, field, mn.toLong, mx.toLong)
        }
        .groupBy(_._1)
        .map { case (rel, rows) =>
          rel -> rows.groupBy(r => (r._2, r._3)).toSeq.sortBy(_._1)
            .map { case ((a, b), fs2) =>
              (a, b, fs2.map(r => r._4 -> (r._5, r._6)).toMap)
            }
        }
    AvroLayout(path, partitionCol, files, Avro.toStructType(avSchema),
      readerSchemaJson, stats, segStats)
  }
}

private[sink] class AvroTable(layout: AvroLayout, splitBytes: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft_avro(${layout.root})"
  override def schema(): StructType = layout.sparkSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(layout, splitBytes)
}

private[sink] class AvroScanBuilder(layout: AvroLayout, splitBytes: Long)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = layout.sparkSchema
  private var pushed: Array[Filter] = Array.empty
  private var statsFilters: Array[Filter] = Array.empty

  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Long => Some(n.longValue())
    case n: java.lang.Integer => Some(n.longValue())
    case n: java.lang.Short => Some(n.longValue())
    case n: java.lang.Byte => Some(n.longValue())
    case _ => None
  }

  /** A comparison the per-file zone maps can answer: =/</<=/>/>=/IN on
    * an integral data column with an integral literal. */
  private def statsEligible(f: Filter): Boolean = f match {
    case EqualTo(c, v) => statCol(c) && asLong(v).isDefined
    case GreaterThan(c, v) => statCol(c) && asLong(v).isDefined
    case GreaterThanOrEqual(c, v) => statCol(c) && asLong(v).isDefined
    case LessThan(c, v) => statCol(c) && asLong(v).isDefined
    case LessThanOrEqual(c, v) => statCol(c) && asLong(v).isDefined
    case In(c, vs) => statCol(c) && vs.nonEmpty && vs.forall(asLong(_).isDefined)
    case _ => false
  }
  private def statCol(c: String): Boolean =
    !layout.partitionCol.contains(c) &&
      layout.dataSchema.fields.exists(f => f.name == c &&
        (f.dataType == LongType || f.dataType == IntegerType))

  /** Partition-column EqualTo/In are EXACT at directory granularity, so
    * they are consumed here (not re-evaluated post-scan). Zone-map-
    * answerable comparisons on integral data columns are consumed
    * INEXACTLY — they skip whole files whose [min,max] cannot match but
    * stay residual so Spark re-applies them row-level (the parquet
    * row-group-stats contract; r16 verdict item 5). Everything else is
    * residual only. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val pc = layout.partitionCol
    val (take, rest) = filters.partition {
      case EqualTo(c, _) if pc.contains(c)       => true
      case EqualNullSafe(c, _) if pc.contains(c) => true
      case In(c, _) if pc.contains(c)            => true
      case _                                     => false
    }
    statsFilters = rest.filter(statsEligible)
    pushed = take
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed ++ statsFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val keep: String => Boolean = {
      val preds = pushed.map {
        case EqualTo(_, v)       => (pv: String) => pv == String.valueOf(v)
        case EqualNullSafe(_, v) => (pv: String) => pv == String.valueOf(v)
        case In(_, vs)           =>
          val set = vs.map(String.valueOf).toSet
          (pv: String) => set.contains(pv)
        case f => throw new IllegalStateException( // pushFilters only takes the three above
          s"graft Avro source: unpushable filter recorded: $f")
      }
      pv => preds.forall(_(pv))
    }
    import AvroStats.{colOf, mayMatch}
    def statsKeep(pv: String, fullPath: String): Boolean =
      statsFilters.forall { f =>
        val rel = layout.partitionCol
          .map(c => s"$c=$pv/").getOrElse("") +
          new Path(fullPath).getName
        layout.stats.get(rel).flatMap(_.get(colOf(f))) match {
          case Some((mn, mx)) => mayMatch(f, mn, mx)
          case None => true
        }
      }
    val dirSurvivors = layout.files.filter(f => keep(f._1))
    val survivors = dirSurvivors.filter(f => statsKeep(f._1, f._2))
    AvroCounters.filesSkippedByStats
      .addAndGet(dirSurvivors.size - survivors.size)
    new AvroScan(survivors, layout.partitionCol, layout.dataSchema, required,
      splitBytes, (pushed ++ statsFilters).map(_.toString),
      layout.readerSchemaJson, statsFilters, layout.segStats)
  }
}

/** Zone-map filter evaluation shared by the file-level (ScanBuilder) and
  * split-level (Scan planning) pruning: a range survives a filter unless
  * its [min,max] PROVES no row can match; absent stats never skip. */
private[sink] object AvroStats {
  def mayMatch(f: Filter, mn: Long, mx: Long): Boolean = {
    def asLong(v: Any): Option[Long] = v match {
      case n: java.lang.Long => Some(n.longValue())
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Short => Some(n.longValue())
      case n: java.lang.Byte => Some(n.longValue())
      case _ => None
    }
    f match {
      case EqualTo(_, v) => asLong(v).forall(x => mn <= x && x <= mx)
      case GreaterThan(_, v) => asLong(v).forall(x => mx > x)
      case GreaterThanOrEqual(_, v) => asLong(v).forall(x => mx >= x)
      case LessThan(_, v) => asLong(v).forall(x => mn < x)
      case LessThanOrEqual(_, v) => asLong(v).forall(x => mn <= x)
      case In(_, vs) => vs.exists(v => asLong(v).forall(x => mn <= x && x <= mx))
      case _ => true
    }
  }
  def colOf(f: Filter): String = f match {
    case EqualTo(c, _) => c
    case GreaterThan(c, _) => c
    case GreaterThanOrEqual(c, _) => c
    case LessThan(c, _) => c
    case LessThanOrEqual(c, _) => c
    case In(c, _) => c
    case other => throw new IllegalStateException(
      s"graft Avro source: non-stats filter recorded: $other")
  }
}

/** One InputPartition per (file, byte range): ranges cut at `splitBytes`
  * and reconciled to record boundaries by the reader's sync-marker scan —
  * range [s, e) owns exactly the records whose block starts in [s, e). */
private[sink] case class AvroSplit(file: String, start: Long, end: Long,
    partitionValue: String) extends InputPartition

private[sink] class AvroScan(files: Seq[(String, String, Long)],
    partitionCol: Option[String], dataSchema: StructType,
    required: StructType, splitBytes: Long, pushedDesc: Array[String],
    readerSchemaJson: Option[String] = None,
    statsFilters: Array[Filter] = Array.empty,
    segStats: Map[String, Seq[(Long, Long, Map[String, (Long, Long)])]] =
      Map.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftAvroScan(files=${files.size}, pushed=[${pushedDesc.mkString(", ")}], " +
      s"schema=${required.fieldNames.mkString(",")})"
  /** Split [s,e) owns exactly the blocks starting in [s,e); segment
    * [a,b) covers the blocks starting in [a,b). The split survives if
    * SOME overlapping segment could hold a row matching ALL stats
    * filters (a matching row's values sit inside its own segment's
    * [min,max], so this is conservative); with no segment stats every
    * split survives — old dirs and single-segment files are unaffected. */
  // memoized: Spark may invoke planInputPartitions more than once per
  // query (plan reuse, AQE re-planning, batch re-creation), which would
  // double-count the machine-check counters AvroSpec and the verify
  // protocol read as evidence of sub-file skipping (ADVICE r19). The
  // lazy val plans — and bumps splitsPlanned/splitsSkippedByStats —
  // exactly once per Scan instance.
  private lazy val plannedSplits: Array[InputPartition] = {
    import AvroStats.{colOf, mayMatch}
    val all = files.iterator.flatMap { case (pv, path, len) =>
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      (0L until n).map(i =>
        AvroSplit(path, i * splitBytes, math.min(len, (i + 1) * splitBytes), pv))
    }.toArray
    val kept =
      if (statsFilters.isEmpty || segStats.isEmpty) all
      else all.filter { sp =>
        val rel = partitionCol.map(c => s"$c=${sp.partitionValue}/")
          .getOrElse("") + new Path(sp.file).getName
        segStats.get(rel) match {
          case None | Some(Nil) => true
          case Some(segs) =>
            val overlapping =
              segs.filter(g => g._1 < sp.end && g._2 > sp.start)
            overlapping.isEmpty || overlapping.exists(g =>
              statsFilters.forall(f => g._3.get(colOf(f)) match {
                case Some((mn, mx)) => mayMatch(f, mn, mx)
                case None => true
              }))
        }
      }
    AvroCounters.splitsPlanned.addAndGet(all.length)
    AvroCounters.splitsSkippedByStats.addAndGet(all.length - kept.length)
    kept.asInstanceOf[Array[InputPartition]]
  }
  override def planInputPartitions(): Array[InputPartition] = plannedSplits
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(dataSchema, required, partitionCol,
      readerSchemaJson)
}

private[sink] class AvroReaderFactory(dataSchema: StructType,
    required: StructType, partitionCol: Option[String],
    readerSchemaJson: Option[String] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(p.asInstanceOf[AvroSplit], dataSchema, required,
      partitionCol, readerSchemaJson)
}

private[sink] class AvroPartitionReader(split: AvroSplit,
    dataSchema: StructType, required: StructType,
    partitionCol: Option[String],
    readerSchemaJson: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private val reader: DataFileReader[GenericRecord] = {
    AvroCounters.filesOpened.incrementAndGet()
    val in = new FsInput(new Path(split.file), new Configuration())
    // writer schema comes from the file header; an explicit reader schema
    // turns on Avro's writer→reader resolution (defaults/skips/aliases)
    val datum = readerSchemaJson match {
      case Some(json) => new GenericDatumReader[GenericRecord](
        null, new ASchema.Parser().parse(json))
      case None => new GenericDatumReader[GenericRecord]()
    }
    val r = new DataFileReader[GenericRecord](in, datum)
    r.sync(split.start) // first block at or after start; 0 → first block
    r
  }
  private val partValue: Any = UTF8String.fromString(split.partitionValue)
  private val types: Map[String, DataType] =
    dataSchema.fields.map(f => f.name -> f.dataType).toMap
  private var current: GenericRecord = _

  override def next(): Boolean =
    if (reader.hasNext && !reader.pastSync(split.end)) {
      current = reader.next(current); true
    } else false

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                      => null
    case (u: org.apache.avro.util.Utf8, StringType) =>
      UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    case (s: CharSequence, StringType)  => UTF8String.fromString(s.toString)
    case (b: ByteBuffer, BinaryType)    =>
      val out = new Array[Byte](b.remaining()); b.duplicate().get(out); out
    case (l: java.lang.Long, TimestampType) => l.longValue() // micros
    case (a: util.Collection[_], ArrayType(et, _)) =>
      ArrayData.toArrayData(a.asScala.map(e => convert(e, et)).toArray)
    case (other, _) => other
  }

  override def get(): InternalRow = {
    val values: Array[Any] = required.fields.map { f =>
      if (partitionCol.contains(f.name)) partValue
      else convert(current.get(f.name), types(f.name))
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = reader.close()
}
