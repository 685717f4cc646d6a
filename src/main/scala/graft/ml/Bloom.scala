package graft.ml

import java.io.ByteArrayOutputStream

import graft.{Pins, Tables}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, DoubleType}
import org.apache.spark.util.sketch.BloomFilter

/** Distributed Bloom-filter build + membership — the sketch that makes
  * benchmark decontamination work when the "small" side stops being small.
  *
  * q52's exact decontamination broadcasts the distinct benchmark n-gram
  * SET; that is the right plan while eval suites are MBs. At frontier
  * scale the held-out side can be another multi-TB corpus slice whose
  * distinct 13-grams no longer fit an exact broadcast — the standard move
  * (GPT-3 appendix C describes exactly this family of filter) is a Bloom
  * filter: build once over the protected set, broadcast the ~GB bitset,
  * and accept a bounded false-positive rate (docs over-flagged, never
  * under-flagged — the safe direction for decontamination, which wants no
  * false NEGATIVES).
  *
  * Two native pieces, both on the extension ladder:
  *  - [[BloomBuildAgg]]: a TypedImperativeAggregate whose buffer IS the
  *    filter — map-side partial filters per task, OR-merged on the reduce
  *    side (mergeInPlace is bitwise-or), one BINARY result row. The build
  *    is fully distributed; the driver only ever holds the finished
  *    sketch, the same footprint contract as a broadcast-hash-join side.
  *  - [[BloomMightContain]]: a codegen'd scalar probe with the finished
  *    filter attached as a plan constant (addReferenceObj — deserialized
  *    once per executor, not per row), so the corpus-side scan stays one
  *    map-side pass inside WholeStageCodegen: no join, no shuffle, no
  *    per-row deserialization.
  *
  * Elements are keyed by xxhash64(value) (seed 42, same convention as
  * KmvDistinct), so build and probe agree on any input type.
  */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] with UnaryLike[Expression] {

  require(expectedItems > 0, s"bloom_build: expectedItems must be > 0")
  require(fpp > 0 && fpp < 1, s"bloom_build: fpp must be in (0,1), got $fpp")

  override def prettyName: String = "bloom_build"
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(b: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) b.putLong(XxHash64Function.hash(v, child.dataType, 42L))
    b
  }

  override def merge(b: BloomFilter, o: BloomFilter): BloomFilter =
    b.mergeInPlace(o)

  override def eval(b: BloomFilter): Any = serialize(b)

  override def serialize(b: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBuildAgg =
    copy(child = newChild)
}

/** Membership probe against a FINISHED serialized filter (a plan-time
  * constant, like a broadcast variable — not a per-row column, which would
  * deserialize the bitset per row). False positives ≤ fpp; never false
  * negative.
  *
  * The bytes ride as an ArraySeq, not Array: case-class equality over a
  * raw Array is reference equality, so two semantically identical probes
  * would never canonicalize equal — defeating subexpression elimination
  * and plan/exchange reuse (round-5 advice). ArraySeq compares and hashes
  * by contents. */
case class BloomMightContain(child: Expression,
    filterBytes: scala.collection.immutable.ArraySeq[Byte])
  extends UnaryExpression {

  @transient private lazy val bf: BloomFilter =
    BloomFilter.readFrom(filterBytes.toArray)

  override def prettyName: String = "bloom_contains"
  override def dataType: DataType = BooleanType

  override protected def nullSafeEval(v: Any): Any =
    bf.mightContainLong(XxHash64Function.hash(v, child.dataType, 42L))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the filter and the child's DataType ride the codegen references
    // array: one deserialize per executor, probe stays inside WSCG
    val bfRef = ctx.addReferenceObj("graftBloom", bf,
      classOf[BloomFilter].getName)
    val dtRef = ctx.addReferenceObj("graftBloomDt", child.dataType,
      "org.apache.spark.sql.types.DataType")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $bfRef.mightContainLong(
         |  org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash($c, $dtRef, 42L));
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object Bloom extends graft.QueryModule {

  /** Aggregate a column into a serialized Bloom filter (one BINARY row). */
  def bloom_build(c: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    GraftSqlBridge.column(
      BloomBuildAgg(GraftSqlBridge.expression(c), expectedItems, fpp)
        .toAggregateExpression())

  /** Probe a value against a finished filter's serialized bytes. */
  def bloom_contains(c: Column, filterBytes: Array[Byte]): Column =
    GraftSqlBridge.column(
      BloomMightContain(GraftSqlBridge.expression(c),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(filterBytes)))

  /** Run a dataframe down to its single serialized-filter cell. The driver
    * holds only the finished sketch (broadcast-side footprint contract). */
  def buildFilter(grams: DataFrame, c: Column, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] =
    grams.agg(bloom_build(c, expectedItems, fpp)).head().getAs[Array[Byte]](0)

  /** SQL registration: bloom_build(col, expectedItems, fpp). The probe side
    * is Column-API-only — its filter argument is a plan constant produced
    * by a prior job, not something SQL text can carry.
    *
    * Argument decoding accepts any FOLDABLE numeric (a SQL `0.25` parses
    * as a Decimal literal, `1024*1024` as a foldable expression) and
    * REFUSES anything else loudly: silently defaulting an unmatched shape
    * (the round-5 advice finding) would hand back a badly-undersized
    * filter whose real false-positive rate quietly blows past the
    * configured bound once it saturates. */
  val sqlFunction: (String, ExpressionInfo, Seq[Expression] => Expression) = (
    "bloom_build",
    new ExpressionInfo("graft", null, "bloom_build",
      "_FUNC_(col, n, fpp) - Serialized Bloom filter over xxhash64(col).", ""),
    (args: Seq[Expression]) => {
      def numArg(name: String, e: Expression): Any = {
        if (!e.foldable)
          throw new IllegalArgumentException(
            s"bloom_build: $name must be a foldable numeric, got ${e.sql}")
        val v = e.eval()
        if (v == null) throw new IllegalArgumentException(
          s"bloom_build: $name must not be null")
        v
      }
      val n = args.lift(1).map(e => numArg("expectedItems", e) match {
        case v: Long => v
        case v: Int => v.toLong
        case v: Short => v.toLong
        case v: Byte => v.toLong
        case v: org.apache.spark.sql.types.Decimal => v.toLong
        case v => throw new IllegalArgumentException(
          s"bloom_build: expectedItems must be integral, got $v (${e.sql})")
      }).getOrElse(1L << 20)
      val fpp = args.lift(2).map(e => numArg("fpp", e) match {
        case v: Double => v
        case v: Float => v.toDouble
        case v: org.apache.spark.sql.types.Decimal => v.toDouble
        case v: Long => v.toDouble
        case v: Int => v.toDouble
        case v => throw new IllegalArgumentException(
          s"bloom_build: fpp must be numeric, got $v (${e.sql})")
      }).getOrElse(0.01)
      BloomBuildAgg(args.head, n, fpp).toAggregateExpression()
    })

  // ------------------------------------------------- bloom decontamination
  /** q52's decontamination with the exact broadcast set replaced by the
    * Bloom sketch: same 5-gram construction, same benchmark split (md5
    * bucket 'f'), but the corpus side never joins — each gram probes the
    * filter inside its own scan. Per-doc hit counts are an UPPER bound on
    * the exact ones (BloomSpec proves ≥ exact per doc and bounds the
    * overcount by fpp); flagging on the bound only over-quarantines, which
    * is the conservative direction for decontamination.
    *
    * Engine-only entry: DuckDB cannot reproduce the sketch's bit layout.
    * Correctness rides BloomSpec's exact-join equivalence bounds; the
    * driver gate checks rows>0. */
  def m_bloom_decontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Cleanse
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
          .as("bucket"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(t)-4), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2), element_at(t,i+3), element_at(t,i+4)))")))
          .as("g"))
    // size the filter from the OBSERVED protected-set cardinality (one
    // tiny agg on the bench side): a fixed guess that undershoots would
    // silently degrade fpp as the eval suite grows — saturation is the
    // classic Bloom failure mode, and counting first costs almost nothing
    // relative to the build
    val benchGrams = grams.filter(col("bucket") === "f")
      .select(col("g")).distinct()
    val expected = math.max(benchGrams.count(), 1024L)
    val filter = buildFilter(benchGrams, col("g"),
      expectedItems = expected, fpp = 0.01)
    grams.filter(col("bucket") =!= "f")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(bloom_contains(col("g"), filter).cast("long")).as("n_hit_bloom"))
      .select(col("doc_id"), col("n_grams"), col("n_hit_bloom"),
        round(col("n_hit_bloom").cast(DoubleType) / col("n_grams"), 6)
          .as("hit_frac_bound"))
      .orderBy(col("doc_id"))
  }

  /** The ACCURACY-CONTRACT gate for Bloom decontamination (the
    * q_approx_distinct pattern): m_bloom_decontaminate stays engine-only
    * because DuckDB cannot reproduce the sketch's bit layout — so this
    * q-numbered twin runs BOTH paths (the exact broadcast join, i.e.
    * q52's plan, and the join-free Bloom probe) and emits only
    * DuckDB-recomputable columns plus contract booleans the oracle
    * asserts as literal TRUE:
    *  - bloom_superset: per doc, bloom hits ≥ exact hits — a Bloom filter
    *    can never false-negative, so a violation means the build/probe
    *    hash contract broke;
    *  - corpus_fpp_ok: the observed corpus-level false-positive rate
    *    (Σ overcount / Σ true negatives) stays ≤ 5× the configured
    *    fpp = 0.01 (variance margin).
    * A wrong answer anywhere in the sketch path flips a boolean and fails
    * the driver's hash gate. The exact join exists here FOR the gate;
    * production scale runs the join-free m_bloom path. */
  def q80_bloom_decontaminate(s: SparkSession, dir: String): DataFrame = Pins.scoped { pins =>
    import graft.text.Cleanse
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
          .as("bucket"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(t)-4), i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2), element_at(t,i+3), element_at(t,i+4)))")))
          .as("g"))
    val benchGrams = grams.filter(col("bucket") === "f")
      .select(col("g")).distinct()
    val expected = math.max(benchGrams.count(), 1024L)
    val filter = buildFilter(benchGrams, col("g"),
      expectedItems = expected, fpp = 0.01)
    // ONE corpus-gram pass computes both sides; pinned because the
    // aggregate contract below is a second consumer
    val perDoc = pins.pin(grams.filter(col("bucket") =!= "f")
      .join(broadcast(benchGrams.withColumn("hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hit_exact"),
        sum(bloom_contains(col("g"), filter).cast("long")).as("nb")))
    val fppOk = perDoc.agg(
      coalesce(
        sum(col("nb") - col("n_hit_exact")).cast(DoubleType)
          / sum(col("n_grams") - col("n_hit_exact")) <= 0.05,
        lit(true)) // zero true negatives → contract trivially satisfied
        .as("corpus_fpp_ok"))
    perDoc.crossJoin(broadcast(fppOk))
      .select(col("doc_id"), col("n_grams"), col("n_hit_exact"),
        (col("nb") >= col("n_hit_exact")).as("bloom_superset"),
        col("corpus_fpp_ok"))
      .localCheckpoint() // pinned before the scope releases perDoc
      .orderBy(col("doc_id"))
  }

  private val DToks =
    "list_filter(string_split(trim(text), ' '), t -> t <> '')"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_bloom_decontaminate" -> (m_bloom_decontaminate _),
    "q80_bloom_decontaminate" -> (q80_bloom_decontaminate _))

  /** The exact side recomputed relationally; the sketch-path booleans are
    * asserted as literals — see q80's scaladoc for the contract. */
  override val oracle: Map[String, String] = Map(
    "q80_bloom_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $DToks AS t FROM documents),
         |grams AS (SELECT DISTINCT doc_id,
         |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
         |    unnest(list_transform(range(1, len(t) - 3),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS g
         |  FROM toks WHERE len(t) >= 5),
         |bench AS (SELECT DISTINCT g FROM grams WHERE bucket = 'f')
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_exact,
         |  TRUE AS bloom_superset, TRUE AS corpus_fpp_ok
         |FROM (SELECT * FROM grams WHERE bucket <> 'f') c
         |LEFT JOIN bench ON c.g = bench.g
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
