package graft.block

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed persistence for the exploded blocking-key table — the
  * "bucketed hash joins on blocking keys" half of the candidate-
  * generation contract (the salted half lives in Pipeline.blockJoin).
  *
  * Why it matters at 10^12 documents: candidate generation re-runs
  * continuously (every crawl increment re-blocks against the standing
  * corpus), and the dominant shuffle in each run is the hash exchange
  * of the keyed mention table for the blocking self-join. Writing that
  * table ONCE bucketed by `key` makes every subsequent self-join — and
  * every incremental join of newly crawled keys bucketed the same way
  * — exchange-free: the scan itself delivers co-partitioned buckets,
  * so the join starts from local sorts instead of a corpus-wide
  * shuffle (BucketedJoinSpec asserts zero Exchange nodes in the
  * self-join plan; IncrementalErSpec pins the incremental join to the
  * increment's exchange alone).
  * The steady-state cost of re-blocking drops from O(corpus shuffle)
  * to O(new-data shuffle).
  *
  * The table is a LIVING corpus, not a one-shot snapshot: [[append]]
  * writes a crawl increment's keyed rows into the SAME bucket layout
  * (each append adds one file per non-empty bucket; bucketed scans
  * group all of a bucket's files into one partition), so the standing
  * table advances a version per absorbed batch without ever rewriting
  * — or re-shuffling — the corpus. AbsorbSpec asserts append ≡ rebuild
  * (same rows, and the self-join / census plans stay exchange-free).
  *
  * Parquet `bucketBy` locally; an Iceberg deployment expresses the
  * same contract as a bucket partition transform on the write side of
  * the TableIO seam (append = ordinary snapshot append there).
  */
object BucketedKeyTable {

  /** Sidecar manifest recording the bucket count of the committed
    * files — [[ensure]]'s re-register path derives the count from it
    * instead of trusting the caller (a mismatched CLUSTERED BY DDL
    * would register wrong bucket metadata and silently drop join
    * pairs). */
  private def manifestPath(path: String) =
    java.nio.file.Paths.get(s"$path/_graft_buckets")

  private def writeManifest(path: String, buckets: Int): Unit =
    java.nio.file.Files.write(manifestPath(path),
      buckets.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def readManifest(path: String): Option[Int] =
    if (java.nio.file.Files.exists(manifestPath(path)))
      Some(new String(java.nio.file.Files.readAllBytes(manifestPath(path)),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt)
    else None

  /** Max bucket id + 1 parsed from committed bucket file names
    * (`part-*-<uuid>_NNNNN.c000…`) — the fallback validation for
    * pre-manifest tables. A lower bound only (trailing empty buckets
    * write no file), so it can't REPLACE the manifest, just catch a
    * caller passing fewer buckets than the files carry. */
  private def maxBucketIdPlus1(path: String): Int = {
    val re = "_(\\d{5})\\.".r
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    try {
      var mx = 0
      stream.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("part-"))
          re.findFirstMatchIn(n).foreach(m => mx = math.max(mx, m.group(1).toInt + 1))
      }
      mx
    } finally stream.close()
  }

  /** Persist `keyed` (id, key, …) bucketed AND sort-ordered by `key` as
    * an external table at `path`. `buckets` should match the planned
    * join parallelism (it caps the join's task count). */
  def write(keyed: DataFrame, table: String, buckets: Int,
      path: String): Unit = {
    keyed.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "key").sortBy("key")
      .option("path", path)
      .saveAsTable(table)
    writeManifest(path, buckets)
  }

  /** Append a crawl increment's keyed rows into the standing table's
    * existing bucket layout. The bucket spec is derived from the
    * CATALOG (never caller-supplied — a drifted count would scatter
    * rows across wrong buckets and silently drop join pairs). Only the
    * increment shuffles (one exchange, to the table's hash
    * distribution); the standing files are untouched — this is what
    * lets a standing corpus ABSORB increments at O(increment) cost
    * instead of being rebuilt per version. */
  def append(spark: SparkSession, table: String, keyed: DataFrame): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(
      throw new IllegalStateException(
        s"append target '$table' carries no bucket spec — refusing to " +
          "append unbucketed (the exchange-free join contract would break)"))
    // repartition onto the bucket boundaries first: a bucketed write
    // emits one file per TASK per bucket, so an un-repartitioned
    // append adds tasks×buckets files per batch (measured: ~2048
    // files/append at 64 buckets — the small-files degeneration the
    // compaction exists to undo; guide §6). repartition's hash
    // (murmur3 pmod n) is the same function bucketing uses, so
    // partition id == bucket id and each append adds AT MOST one file
    // per non-empty bucket. Same one-increment-sized exchange as
    // before (the bucketed write shuffles either way), same rows.
    val parted = keyed.repartition(spec.numBuckets,
      spec.bucketColumnNames.map(col): _*)
    val w = parted.write.mode("append").format("parquet")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
      w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
    else w).saveAsTable(table)
  }

  /** Make `table` available in this session, building it at most once
    * per `path` ACROSS sessions: bucket metadata lives in the catalog
    * (in-memory here, Hive/Iceberg in production), so a fresh session
    * re-REGISTERS the committed bucketed files with a CREATE TABLE …
    * CLUSTERED BY DDL instead of re-shuffling the corpus — the bucket
    * ids are in the committed file names, so the registered table is
    * exchange-free-joinable exactly like the original. Callers bind
    * `path` to the code fingerprint (Lineage.codeFingerprint) so a
    * behavior-changing edit rebuilds instead of resuming stale state.
    *
    * Every reuse path VALIDATES instead of trusting (a wrong catalog
    * entry or bucket count fails loudly; registering wrong bucket
    * metadata would silently drop join pairs):
    *  - an existing catalog entry must point at `path`;
    *  - the re-register branch takes the bucket count from the
    *    committed manifest, requires it to equal `buckets`, and
    *    cross-checks the bucket ids in the committed file names. */
  def ensure(spark: SparkSession, table: String, buckets: Int,
      path: String)(build: => DataFrame): Unit = {
    if (spark.catalog.tableExists(table)) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      val loc = java.nio.file.Paths.get(meta.location).normalize
      val want = java.nio.file.Paths.get(new java.io.File(path).toURI).normalize
      require(loc == want,
        s"table '$table' already registered at '$loc', not '$want' — " +
          "refusing to reuse a catalog entry for different data")
      require(meta.bucketSpec.exists(_.numBuckets == buckets),
        s"table '$table' registered with bucket spec ${meta.bucketSpec}, " +
          s"caller expects $buckets buckets")
      return
    }
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/_SUCCESS"))) {
      val committed = readManifest(path).getOrElse(maxBucketIdPlus1(path))
      require(committed <= buckets && maxBucketIdPlus1(path) <= buckets,
        s"committed files at '$path' carry $committed buckets " +
          s"(max file bucket id ${maxBucketIdPlus1(path) - 1}); " +
          s"caller asked to register $buckets")
      require(readManifest(path).forall(_ == buckets),
        s"committed manifest at '$path' says ${readManifest(path).get} " +
          s"buckets; caller asked for $buckets — bucket-count drift would " +
          "make the exchange-free join silently drop pairs")
      val schemaDdl = spark.read.parquet(path).schema.toDDL
      spark.sql(
        s"""CREATE TABLE $table ($schemaDdl) USING parquet
           |CLUSTERED BY (key) SORTED BY (key) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
      // close the pre-manifest hole for the NEXT reuse: a path that
      // validated against file names only (lower bound) gets a real
      // manifest now, so a later caller passing a larger bucket count
      // fails the manifest equality check instead of registering wrong
      // bucket metadata (silent join-pair drop)
      if (readManifest(path).isEmpty) writeManifest(path, buckets)
    } else write(build, table, buckets, path)
  }

  /** File-count observability for the living table (each [[append]]
    * adds one file per non-empty bucket; bucketed scans pay a per-file
    * open cost, so unbounded appends degrade task setup — guide §6
    * "small files"). */
  final case class BucketFiles(buckets: Int, totalFiles: Int, maxPerBucket: Int)

  def filesPerBucket(spark: SparkSession, table: String): BucketFiles = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0)
    val re = "_(\\d{5})\\.".r
    val counts = new Array[Int](math.max(buckets, 1))
    var total = 0
    val stream = java.nio.file.Files.list(
      java.nio.file.Paths.get(meta.location))
    try stream.forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part-")) re.findFirstMatchIn(n).foreach { m =>
        val b = m.group(1).toInt
        if (b < counts.length) counts(b) += 1
        total += 1
      }
    } finally stream.close()
    BucketFiles(buckets, total, if (counts.isEmpty) 0 else counts.max)
  }

  /** Bucket-preserving compaction of the living table — the local
    * analog of Iceberg's `rewrite_data_files`: rewrite the accumulated
    * per-append files into one file per bucket at a NEW location and
    * re-register the catalog entry there. One full read + one bucketed
    * write (maintenance cost, amortized across the appends that made
    * it necessary); rows and the exchange-free join contract are
    * unchanged (spec: post-compaction census plan still plans zero
    * hash exchanges, row multiset identical). Returns the new path. */
  def compact(spark: SparkSession, table: String): String = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalStateException(
      s"compact target '$table' carries no bucket spec"))
    val oldPath = java.nio.file.Paths.get(meta.location).toString
    val base = oldPath.replaceAll("__c\\d+$", "")
    val newPath = s"${base}__c${System.nanoTime()}"
    // read rows from the FILES (not the table: the catalog entry is
    // dropped before the new one is created, and execution is lazy).
    // The pre-write repartition lands each bucket's rows in exactly one
    // task — repartition's hash (murmur3 pmod n) is the same function
    // bucketing uses, so partition id == bucket id and the write emits
    // ONE file per non-empty bucket (a plain bucketed write emits one
    // file per task per bucket, which is the fragmentation compaction
    // exists to undo; guide §6 output file sizing).
    val rows = spark.read.parquet(oldPath)
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    spark.sql(s"DROP TABLE $table")
    write(rows, table, spec.numBuckets, newPath)
    newPath
  }

  /** Blocking self-join over the bucketed table: candidate id pairs
    * (id_a < id_b), one row per shared key — the same shape as the
    * in-memory blocking join, but with the join's exchanges satisfied
    * by the bucketed scan. Pair-dedup (`distinct`) is left to the
    * caller so the exchange it necessarily introduces is not confused
    * with the join's own. */
  def selfJoinPairs(spark: SparkSession, table: String): DataFrame = {
    val a = spark.table(table).select(col("key"), col("id").as("id_a"))
    val b = spark.table(table).select(col("key"), col("id").as("id_b"))
    a.join(b, Seq("key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }
}
