package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.expr.{functions => gf}
import graft.pages.Extract

/** Structured-Streaming face of the engine (SURVEY.md §2.9): the
  * reference's 10M-row chunk loop (match_pair.py:50-58) becomes a
  * streaming source with exactly-once sinks; incremental crawls flow
  * through the same extract → normalize → block path as batch.
  *
  *  - `streamingMentions`: readStream over a pages directory →
  *    mention extraction + normalization + blocking keys (stateless,
  *    append mode — shares all batch expressions);
  *  - `windowedMentionCounts`: watermarked event-time windows over
  *    crawl timestamps (observability of an ongoing crawl);
  *  - `dedupedMentions`: stateful exact-dedup on (name) via
  *    mapGroupsWithState — first occurrence wins, state times out
  *    after `stateTimeoutMs` so unbounded keys don't accumulate.
  */
/** Per-key dedup state (top-level: nested case classes break encoder
  * codegen). */
case class SeenState(firstUrl: String)

object StreamingPipeline {

  /** Streaming extract+normalize+block over a parquet pages dir. */
  def streamingMentions(spark: SparkSession, pagesDir: String): DataFrame = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
    val mentions = pages
      .select(col("url"), col("warc_ts"),
        explode(split(Extract.extract_text(col("html")), "\n")).as("line"))
      .where(col("line").startsWith("Company: "))
      .select(col("url"), col("warc_ts"),
        expr("substring(line, 10)").as("name"))
    mentions
      .withColumn("pre_proc", gf.normalize_name(col("name")))
      .na.drop(Seq("pre_proc"))
      .withColumn("keys", gf.blocking_keys(col("pre_proc")))
  }

  /** Watermarked per-window mention counts (event time = warc_ts). */
  def windowedMentionCounts(mentions: DataFrame,
      windowLen: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    mentions
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), windowLen), col("pre_proc"))
      .agg(count(lit(1)).as("n"))

  /** Incremental ER over a crawl stream (the production "new WARC
    * batch arrives" path): each micro-batch of pages is extracted,
    * normalized, and scored two-sided against a FIXED base universe;
    * accepted edges land in `edgesDir/batch=<id>`. With a
    * `checkpointLocation` the query resumes from the last committed
    * batch after a restart — the streaming face of the Lineage resume
    * story. Sink semantics are IDEMPOTENT under replay: each batch
    * overwrites its own batchId-named directory, so a crash between
    * the write and the checkpoint commit re-runs the batch into the
    * same directory instead of duplicating edges (plain parquet
    * append would be at-least-once). Readers see one hive-style
    * `batch` partition column on top of the edge schema. Returns the
    * started query (caller awaits / stops).
    *
    * matchBatch is exposed separately so tests can assert the per-batch
    * semantics ≡ the batch pipeline on the same input. */
  def matchBatch(batch: DataFrame, baseNorm: DataFrame): DataFrame =
    matchNormalized(graft.pipeline.Pipeline.normalize(batchMentions(batch)),
      baseNorm, graft.pipeline.Pipeline.baseKeyed(baseNorm))

  /** batch pages → (id, name) mention rows (id = stable hash of the
    * url + extracted line, deterministic under batch replay). */
  private def batchMentions(batch: DataFrame): DataFrame =
    batch
      .select(col("url"), explode(split(Extract.extract_text(col("html")), "\n")).as("line"))
      .where(col("line").startsWith("Company: "))
      .select(xxhash64(col("url"), col("line")).as("id"),
        expr("substring(line, 10)").as("name"))

  private def matchNormalized(main: DataFrame, baseNorm: DataFrame,
      keyedB: DataFrame): DataFrame =
    graft.pipeline.Pipeline.scoreCandidates(
        graft.pipeline.Pipeline.edgeCandidatesTwoSidedKeyed(main, baseNorm, keyedB))
      .select("id_a", "id_b", "code", "score")

  def incrementalEdges(spark: SparkSession, pagesDir: String,
      baseNorm: DataFrame, edgesDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // two long-lived cache entries for the fixed universe, owned by
    // this query's lifetime — NOT per-batch (a per-batch persist with
    // no unpersist would grow the shared CacheManager unboundedly).
    // The keyed explode (double-metaphone + minhash per base row) is
    // the expensive part: without its own persist it re-executes for
    // the census and both join tiers on EVERY micro-batch.
    baseNorm.persist()
    val keyedB = graft.pipeline.Pipeline.baseKeyed(baseNorm).persist()
    spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the per-batch main side is consumed twice inside the
        // two-sided join (key explode + name hydration probe): persist
        // for the batch, release in finally — the cache must not
        // accumulate an entry per micro-batch
        val main = graft.pipeline.Pipeline.normalize(batchMentions(batch)).persist()
        try matchNormalized(main, baseNorm, keyedB)
          .write.mode("overwrite").parquet(s"$edgesDir/batch=$batchId")
        finally main.unpersist()
        ()
      }
      .start()
  }

  /** [[incrementalEdges]] over a STANDING corpus persisted as a
    * bucketed blocking-key table (graft.block.BucketedKeyTable) — the
    * restart-durable steady-state flow. The in-memory variant above
    * persists the keyed universe per query lifetime, which is fine
    * locally but lost on restart (the first batch after recovery pays
    * a full corpus re-key + re-shuffle); here the keyed corpus lives
    * ON DISK with its bucket layout, so every micro-batch — including
    * the first after a crash — shuffles only the increment
    * (Pipeline.incrementalPairs; IncrementalErSpec pins the
    * plan). `baseNorm` is still needed for name hydration of accepted
    * pairs; it is cheap to recompute relative to the keyed explode and
    * is persisted for the query lifetime. */
  def incrementalEdgesBucketed(spark: SparkSession, pagesDir: String,
      standingTable: String, baseNorm: DataFrame, edgesDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    baseNorm.persist()
    spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val main = graft.pipeline.Pipeline.normalize(batchMentions(batch)).persist()
        // keyed handle released per batch: each micro-batch's `main` is
        // a distinct plan, so the plain incrementalEdges persist would
        // accumulate one CacheManager entry per batch forever
        val (edges, keyedInc) = graft.pipeline.Pipeline
          .incrementalEdgesKeyed(spark, standingTable, main, baseNorm)
        try edges
          .select("id_a", "id_b", "code", "score")
          .write.mode("overwrite").parquet(s"$edgesDir/batch=$batchId")
        finally { keyedInc.unpersist(); main.unpersist() }
        ()
      }
      .start()
  }

  /** The ABSORBING stream — [[incrementalEdgesBucketed]] with the loop
    * closed (round-6 centerpiece): each micro-batch is scored against
    * the standing corpus AND itself, appended into the bucketed
    * table's layout, folded into the maintained label table
    * (contracted-graph CC — O(batch)), and monitored for over-merge
    * per increment ([[graft.pipeline.Absorb.absorb]]). Batch k+1 sees
    * batch k as standing state.
    *
    * Durability split:
    *  - edges: idempotent per-batch overwrite dirs (as before);
    *  - the bucketed table: durable, but append is NOT naturally
    *    idempotent under foreachBatch replay — a crash between the
    *    append and the checkpoint commit re-runs the batch, and a
    *    second append would double the batch's standing rows and its
    *    future self-pairs. The `_absorbed_batches` sidecar (one
    *    batchId per line, written AFTER the batch's effects commit)
    *    makes replay skip the whole absorb — the committed edges dir
    *    for the batch is already in place. Residual window (known,
    *    round-6 ADVICE): a crash BETWEEN the table append and the
    *    sidecar line still re-appends the batch on replay; closing it
    *    needs an atomically-committed append (the Iceberg binding of
    *    the TableIO seam — snapshot commit + batchId in snapshot
    *    metadata) or batch-tagged rows with replay-time dedup. A torn
    *    sidecar line no longer wedges restarts (unparsable lines are
    *    skipped, not parsed with toLong);
    *  - norm + labels: query-lifetime state here; production commits
    *    the label delta per batch (Absorb scaladoc) and re-seeds both
    *    from committed tables on restart, using the sidecar to know
    *    which batches are already absorbed.
    *
    * Returns the started query plus a live reference to the standing
    * state (StreamingSpec reads labels/monitor from it after
    * termination). */
  def absorbingEdges(spark: SparkSession, pagesDir: String,
      initial: graft.pipeline.Absorb.Standing, edgesDir: String,
      checkpointDir: String)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.atomic.AtomicReference[graft.pipeline.Absorb.Standing]) = {
    val stRef = new java.util.concurrent.atomic.AtomicReference(initial)
    val sidecar = java.nio.file.Paths.get(s"$edgesDir/_absorbed_batches")
    def absorbed(): Set[Long] =
      if (java.nio.file.Files.exists(sidecar))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(sidecar)).asScala
          // a torn line from a crash mid-append must not wedge every
          // subsequent restart with a NumberFormatException — an
          // unparsable line is simply not an absorbed batch
          .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toSet
      else Set.empty
    val q = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (absorbed().contains(batchId)) {
          System.err.println(s"[graft-absorb] batch $batchId already " +
            "absorbed (replay after crash); skipping")
        } else {
          // eager localCheckpoint, NOT persist+unpersist: the standing
          // norm keeps referencing this batch's rows in later batches,
          // and a micro-batch DataFrame's lineage is only valid during
          // its own batch — the checkpoint detaches the rows from the
          // streaming source (production reads the committed norm
          // table instead, so nothing accumulates in executor memory)
          val incNorm = graft.pipeline.Pipeline
            .normalize(batchMentions(batch)).localCheckpoint(true)
          val r = graft.pipeline.Absorb.absorb(spark, stRef.get, incNorm)
          r.newEdges.write.mode("overwrite")
            .parquet(s"$edgesDir/batch=$batchId")
          stRef.set(r.standing)
          java.nio.file.Files.writeString(sidecar, s"$batchId\n",
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        }
        ()
      }
      .start()
    (q, stRef)
  }

  /** Stateful first-occurrence dedup by normalized name. */
  def dedupedMentions(spark: SparkSession, mentions: DataFrame,
      stateTimeoutMs: Long = 3600000L): DataFrame = {
    import spark.implicits._
    mentions.select(col("pre_proc").as[String], col("url").as[String])
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout)(
        (key: String, rows: Iterator[(String, String)],
         state: GroupState[SeenState]) => {
          if (state.hasTimedOut) {
            state.remove()
            (key, null: String, 0L)
          } else {
            val fresh = !state.exists
            val first = if (fresh) {
              val f = rows.next()._2
              state.update(SeenState(f))
              state.setTimeoutDuration(stateTimeoutMs)
              f
            } else state.get.firstUrl
            val dups = rows.size + (if (fresh) 0 else 0)
            (key, first, dups.toLong)
          }
        })
      .toDF("pre_proc", "first_url", "dups_in_batch")
  }
}
