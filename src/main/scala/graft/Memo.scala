package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The session memo: work that is computed once per session and again
  * when an input table changes — a trained tokenizer, a fitted model, an
  * advisor's decision, the key of a materialized stage, the listener that
  * deletes an application's stages.
  *
  * A key is the application id, a name, and one md5 over the sorted
  * (path, length, mtime) listing of every file under each named
  * `<dir>/<table>.parquet`. Listing is a metadata read, what a lake
  * manifest read costs at any scale (on Iceberg or Delta the listing is
  * the tables' snapshot ids). An in-place rewrite of a named table — a
  * CDC merge, a partition rewrite, a regenerated dir — changes the
  * listing and so the key; a rewrite of a table not named does not. So a
  * caller names exactly the tables its computation reads.
  *
  * Values are driver-sized (merge lists, a 64-row fit, one boolean) and
  * live as long as the JVM. A key computes once (`computeIfAbsent`), so a
  * computation must not itself call the memo. Bench and Verify run one
  * query at a time. */
private[graft] object Memo {
  private val values = new ConcurrentHashMap[String, AnyRef]

  /** `compute`'s value under [[key]], computed on the first call only. */
  def apply[T](s: SparkSession, dir: String, tables: Seq[String], name: String)(
      compute: => T): T =
    values.computeIfAbsent(key(s, dir, tables, name), _ => compute.asInstanceOf[AnyRef])
      .asInstanceOf[T]

  /** `<application id>_<name>_<md5 of the tables' file listing>`, safe as
    * a file name when `name` is. */
  def key(s: SparkSession, dir: String, tables: Seq[String], name: String): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val entries = ArrayBuffer.empty[String]
    tables.foreach { t =>
      val path = new Path(s"$dir/$t.parquet")
      val it = path.getFileSystem(conf).listFiles(path, true)
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
    }
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(entries.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"${s.sparkContext.applicationId}_${name}_$md5"
  }
}
