package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    GraftSession.only(SparkEntry.queries).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that pin results via localCheckpoint would otherwise
      // accumulate blocks across the ~100-query dump
      GraftSession.sweep(spark)
    }
    val json = new java.io.StringWriter
    val gen = new com.fasterxml.jackson.core.JsonFactory().createGenerator(json)
    gen.writeStartObject()
    SparkEntry.oracleSql.foreach { case (k, v) => gen.writeStringField(k, v) }
    gen.writeEndObject()
    gen.close()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json.toString)
    spark.stop()
  }
}
