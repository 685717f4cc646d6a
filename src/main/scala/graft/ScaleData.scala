package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic 10× corpus synthesis for the scaling-exponent
  * measurement (r16 verdict item 3): the first empirical rung of the
  * "would survive a 100× scale-up" claim, which nothing above sf0.1 had
  * ever tested. Usage:
  *
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_scale10 10"
  *
  * then time the expensive-query set at 1× and 10× with Bench
  * (SPARK_GRAFT_ONLY=…, SPARK_GRAFT_SF_DIR=…) and record per-query
  * ratios in SCALING.md.
  *
  * Salting design — copies must be DISTINCT, not duplicates:
  *  - `documents`: copy r Caesar-shifts letters by r (`translate`,
  *    length-preserving so `n_chars` stays truthful and the token
  *    SHAPE — lengths, repetition, punctuation — is identical). Naive
  *    duplication would hand the near-dup kernels C(10,2) artificial
  *    pairs per doc (a 45× pair blowup at 10× data that measures the
  *    DATA, not the algorithm); disjoint per-copy vocabularies keep
  *    pair volume honestly linear. doc_id' = doc_id·C + r keeps ids
  *    dense and disjoint.
  *  - `embeddings`: per-element deterministic micro-jitter
  *    (±1e-3, splitmix64-seeded by (vec_id', element)) on copies r>0 —
  *    exact duplicates would collapse ANN shortlists and SemDeDup
  *    components into degenerate all-pairs cliques.
  *  - `orders`/`lineitem`: every key (order, customer, part, supplier)
  *    maps k' = k·C + r — ten DISJOINT copies of the co-occurrence
  *    graph, so node/edge counts scale 10× with no artificial
  *    cross-copy edges.
  *  - everything else (region nation customer supplier part events)
  *    copies byte-for-byte: the timed set reads them only as
  *    broadcast-class dims, and key lookups into scaled tables are not
  *    exercised by the scaling set.
  *
  * Everything is seed-free or splitmix64-seeded — re-running the main
  * reproduces the corpus bit-for-bit. */
object ScaleData {
  private val Alpha = "abcdefghijklmnopqrstuvwxyz"

  private def rot(s: String, r: Int): String = {
    val k = r % s.length
    s.drop(k) + s.take(k)
  }

  /** Caesar shift of letters by r mod 26 (identity at 0), both cases.
    * The when-chain has at most 26 arms regardless of the copy count —
    * a per-copy chain at 1000 copies would build a Catalyst tree three
    * orders larger for the same 26 distinct translations (copies past
    * 26 share a shift class; near-dup kernels then see bounded
    * duplicate groups, which a production corpus has anyway). */
  private def shifted(text: Column, rCol: Column, copies: Int): Column = {
    val m = pmod(rCol, lit(26))
    val arms = (1 until math.min(copies, 26)).foldLeft(when(m === 0, text)) {
      (acc, r) =>
        acc.when(m === r, translate(text,
          Alpha + Alpha.toUpperCase,
          rot(Alpha, r) + rot(Alpha.toUpperCase, r)))
    }
    arms.otherwise(text)
  }

  /** Suffix salting (r17 §5): append a per-copy base-26 code to EVERY
    * whitespace token, so each copy's vocabulary is fully disjoint from
    * every other copy's at ANY copy count — unlike the 26-arm Caesar
    * chain, whose shift classes collide past 26 copies and hand the
    * near-dup kernels bounded duplicate cliques (fine for the capped
    * pair kernels, but it changes q55's component structure
    * qualitatively: the 1000× fixpoint would measure the synthetic
    * corpus's duplicate cliques, not the algorithm's exponent). With
    * disjoint vocabularies the pair graph is exactly `copies` disjoint
    * replicas of the 1× graph — component diameters (hence fixpoint
    * round counts) provably unchanged, edges exactly linear: the pure
    * scaling-exponent corpus. Copy r=0 keeps the original text so the
    * 1× rung stays comparable. Token shape caveat (documented, not
    * hidden): every token grows by 3 chars, so shingle/minhash HASHES
    * differ from the source corpus — irrelevant for exponent
    * measurement, which only compares the salted corpus to itself
    * across copy counts. */
  private def suffixed(text: Column, rCol: Column): Column = {
    // built from rCol itself, not a string-embedded "r" column name, so
    // the helper binds correctly wherever the copy column comes from
    // (ADVICE r17)
    def digit(d: Column): Column =
      call_function("char", lit(97) + pmod(d, lit(26)))
    val code = concat(digit(rCol),
      digit(floor(rCol / lit(26)).cast("int")),
      digit(floor(rCol / lit(676)).cast("int")))
    when(rCol === 0, text).otherwise(
      array_join(transform(split(text, " "),
        t => when(t === "", t).otherwise(concat(t, code))), " "))
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-list of tables to SCALE (others copy 1×)
    // — a 1000× doc-kernel probe has no use for a 120 GB lineitem
    val scaleSet: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else Set("documents", "embeddings", "orders", "lineitem")
    // optional 5th arg: document salting mode — "caesar" (default;
    // length-preserving, 26 shift classes) or "suffix" (per-token
    // base-26 copy code: fully disjoint vocabularies at any copy count,
    // the fixpoint-exponent corpus — see `suffixed`)
    val saltMode = if (args.length > 4) args(4) else "caesar"
    require(Set("caesar", "suffix")(saltMode),
      s"unknown salt mode '$saltMode' (caesar|suffix)")
    val spark = GraftSession.local(GraftSession.envCores)

    val outDir = new java.io.File(out)
    org.apache.commons.io.FileUtils.deleteQuietly(outDir)
    outDir.mkdirs()

    val cop = spark.range(copies).select(col("id").cast("int").as("r"))
    val c = lit(copies.toLong)

    def write(df: DataFrame, table: String, parts: Int): Unit =
      df.repartition(math.min(parts, 256)).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")
    def copy1x(t: String): Unit =
      org.apache.commons.io.FileUtils.copyFile(
        new java.io.File(s"$src/$t.parquet"),
        new java.io.File(s"$out/$t.parquet"))

    // documents: id fan-out + per-copy salted vocabulary
    if (scaleSet("documents")) {
      val salted =
        if (saltMode == "suffix") suffixed(col("text"), col("r"))
        else shifted(col("text"), col("r"), copies)
      val base = Tables.documents(spark, src).crossJoin(broadcast(cop))
        .select((col("doc_id") * c + col("r")).as("doc_id"),
          salted.as("text"), col("lang"), col("source"), col("n_chars"))
      // suffix mode grows tokens by 3 chars: keep n_chars truthful —
      // and keep its TYPE identical to the source column's (length()
      // returns INT; the source column is BIGINT — a silent schema
      // drift between the two salt modes otherwise, ADVICE r17)
      val nCharsType = Tables.documents(spark, src).schema("n_chars").dataType
      val docs = if (saltMode == "suffix")
        base.withColumn("n_chars", length(col("text")).cast(nCharsType))
      else base
      write(docs, "documents", copies)
    } else copy1x("documents")

    // embeddings: id fan-out + deterministic micro-jitter on copies r>0
    if (scaleSet("embeddings"))
      write(Tables.embeddings(spark, src).crossJoin(broadcast(cop))
        .select((col("vec_id") * c + col("r")).as("vec_id"),
          when(col("r") === 0, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + (pmod(graft.rel.JoinCard.splitmix64(
                  (col("vec_id") * c + col("r")) * lit(64L) + i),
                lit(2001L)) - lit(1000L)).cast("float") / lit(1e6f))
                .cast("float"))).as("embedding"),
          col("label")),
        "embeddings", copies)
    else copy1x("embeddings")

    // orders / lineitem: disjoint graph copies via k' = k·C + r
    if (scaleSet("orders"))
      write(Tables.orders(spark, src).crossJoin(broadcast(cop))
        .select((col("o_orderkey") * c + col("r")).as("o_orderkey"),
          (col("o_custkey") * c + col("r")).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority")),
        "orders", copies)
    else copy1x("orders")
    if (scaleSet("lineitem"))
      write(Tables.lineitem(spark, src).crossJoin(broadcast(cop))
        .select((col("l_orderkey") * c + col("r")).as("l_orderkey"),
          (col("l_partkey") * c + col("r")).as("l_partkey"),
          (col("l_suppkey") * c + col("r")).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate")),
        "lineitem", copies)
    else copy1x("lineitem")

    // dims + events: byte-for-byte copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "events"))
      copy1x(t)
    println(s"[scale] wrote ${copies}x of $src to $out")
    spark.stop()
  }
}
