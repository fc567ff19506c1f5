package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.cluster.ConnectedComponents
import graft.pages.PagesGen
import graft.pipeline.{Absorb, Pipeline}

/** The closed steady-state loop (Absorb): absorbing a corpus batch by
  * batch — cross edges via the bucketed join, increment self edges,
  * bucket-preserving append, label maintenance — must be bit-identical
  * to the one-shot batch path over the union corpus, and the standing
  * table must stay exchange-free-joinable (and re-registrable) across
  * appends. */
class AbsorbSpec extends SparkSuite {
  import spark.implicits._

  private def norm(): DataFrame = {
    val mentions = Pipeline.extractMentions(PagesGen.generate(spark, 70, 4))
    Pipeline.normalize(
      mentions.select(col("mention_id").as("id"), col("name")))
      .select("id", "pre_proc", "nosuffix").persist()
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("absorb loop ≡ one-shot batch path: edges AND labels, bit-identical") {
    val n = norm()
    val oneShotEdges = Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(n))
      .select("id_a", "id_b", "code", "score")
      .as[(Long, Long, Int, Double)].collect().toSet
    val oneShotLabels = ConnectedComponents.assignAll(
      Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(n))
        .select("id_a", "id_b"), n.select("id"))
      .as[(Long, Long)].collect().toSet

    val table = s"graft_absorb_spec_${System.nanoTime()}"
    val nBatches = 3
    def slice(b: Int) = n.where(pmod(col("id"), lit(nBatches)) === b)
    try {
      var st = Absorb.init(spark, table, 8, tmp("graft_absorb"), slice(0).persist())
      // seed edges: the one-shot path over batch 0 alone
      var edges = Pipeline.scoreCandidates(
          Pipeline.edgeCandidatesSelf(slice(0)))
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      for (b <- 1 until nBatches) {
        val r = Absorb.absorb(spark, st, slice(b).persist())
        st = r.standing
        val batchEdges = r.newEdges
          .as[(Long, Long, Int, Double)].collect().toSet
        assert(batchEdges.intersect(edges).isEmpty,
          s"batch $b re-emitted already-absorbed edges")
        edges ++= batchEdges
      }
      assert(edges.nonEmpty && edges == oneShotEdges,
        s"absorbed edge set diverges: ${(edges diff oneShotEdges).take(3)} extra, " +
          s"${(oneShotEdges diff edges).take(3)} missing")
      assert(st.labels.as[(Long, Long)].collect().toSet == oneShotLabels)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("hot increment keys: grid route and salted self tier in one batch plan ≡ one-shot") {
    // maxBlockSize = 3 makes many increment keys hot, so one batch plan
    // holds BOTH block joins: incrementalPairs' 2-D grid route
    // (two-sided) and the increment self-join's salted tier (self) —
    // their observations must not collide, and the edges and labels
    // must still match the one-shot path over the union corpus
    val cfg = Pipeline.Config(maxBlockSize = 3)
    val n = norm()
    val oneShot = Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(n, cfg), cfg)
      .select("id_a", "id_b", "code", "score")
    val oneShotEdges = oneShot.as[(Long, Long, Int, Double)].collect().toSet
    val oneShotLabels = ConnectedComponents.assignAll(
      oneShot.select("id_a", "id_b"), n.select("id"))
      .as[(Long, Long)].collect().toSet
    def slice(b: Int) = n.where(pmod(col("id"), lit(2)) === b)
    // the route precondition: the increment has keys above maxBlockSize
    val hotKeys = Pipeline.incrementKeyed(slice(1)).groupBy("key").count()
      .where(col("count") > cfg.maxBlockSize).count()
    assert(hotKeys > 0 && hotKeys <= 10000, s"$hotKeys hot increment keys")

    val table = s"graft_absorb_hot_${System.nanoTime()}"
    try {
      val st = Absorb.init(spark, table, 8, tmp("graft_absorb_hot"),
        slice(0).persist(), cfg)
      val seedEdges = Pipeline.scoreCandidates(
          Pipeline.edgeCandidatesSelf(slice(0), cfg), cfg)
        .select("id_a", "id_b", "code", "score")
        .as[(Long, Long, Int, Double)].collect().toSet
      val r = Absorb.absorb(spark, st, slice(1).persist(), cfg, monitor = false)
      val edges = seedEdges ++ r.newEdges.as[(Long, Long, Int, Double)].collect().toSet
      assert(edges.nonEmpty && edges == oneShotEdges,
        s"absorbed edge set diverges: ${(edges diff oneShotEdges).take(3)} extra, " +
          s"${(oneShotEdges diff edges).take(3)} missing")
      assert(r.standing.labels.as[(Long, Long)].collect().toSet == oneShotLabels)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("absorbAll ≡ one-shot labels (the er_incremental_clusters contract)") {
    val n = norm()
    val want = ConnectedComponents.assignAll(
      Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(n))
        .select("id_a", "id_b"), n.select("id"))
      .as[(Long, Long)].collect().toSet
    val got = Absorb.absorbAll(spark, n, 4,
      s"graft_absorb_all_${System.nanoTime()}", 8, tmp("graft_absorb_all"))
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got == want)
  }

  test("append ≡ rebuild: same rows, and the bucket layout still satisfies census+join") {
    val n = norm()
    val a = n.where(pmod(col("id"), lit(2)) === 0)
    val b = n.where(pmod(col("id"), lit(2)) === 1)
    val table = s"graft_append_spec_${System.nanoTime()}"
    val rebuilt = s"${table}_rebuilt"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedKeyTable.ensure(spark, table, 8, tmp("graft_append")) {
        Pipeline.withBlockingKeys(a).select("id", "key", "nosuffix")
      }
      BucketedKeyTable.append(spark, table,
        Pipeline.withBlockingKeys(b).select("id", "key", "nosuffix"))
      BucketedKeyTable.ensure(spark, rebuilt, 8, tmp("graft_rebuild")) {
        Pipeline.withBlockingKeys(n).select("id", "key", "nosuffix")
      }
      val gotRows = spark.table(table).as[(Long, String, String)].collect().toSet
      val wantRows = spark.table(rebuilt).as[(Long, String, String)].collect().toSet
      assert(gotRows == wantRows)
      // the appended table still answers census + self-join from its
      // buckets: zero exchanges (broadcast disabled above, so a pass
      // here can only come from the bucket layout)
      Pipeline.assertStandingBucketed(spark, table)
      val plan = BucketedKeyTable.selfJoinPairs(spark, table)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"post-append self-join lost exchange-freedom:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $rebuilt")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("post-append re-register: a fresh session recovers the appended table without rebuild") {
    val n = norm()
    val a = n.where(pmod(col("id"), lit(2)) === 0)
    val b = n.where(pmod(col("id"), lit(2)) === 1)
    val table = s"graft_reregister_spec_${System.nanoTime()}"
    val dir = tmp("graft_reregister")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedKeyTable.ensure(spark, table, 8, dir) {
        Pipeline.withBlockingKeys(a).select("id", "key", "nosuffix")
      }
      BucketedKeyTable.append(spark, table,
        Pipeline.withBlockingKeys(b).select("id", "key", "nosuffix"))
      val before = spark.table(table).count()
      // production restarts mid-stream: simulate the fresh session by
      // dropping the catalog entry while the committed files stay
      spark.sql(s"DROP TABLE $table")
      BucketedKeyTable.ensure(spark, table, 8, dir) {
        fail("must re-register the committed files, not rebuild")
      }
      assert(spark.table(table).count() == before)
      val plan = BucketedKeyTable.selfJoinPairs(spark, table)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-registered post-append table lost its bucketing:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("maintained census ≡ recomputed census; norm plan depth stays bounded; labels ≡ one-shot (17 batches)") {
    val n = norm()
    val want = ConnectedComponents.assignAll(
      Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(n))
        .select("id_a", "id_b"), n.select("id"))
      .as[(Long, Long)].collect().toSet
    val table = s"graft_census_spec_${System.nanoTime()}"
    val nBatches = 17 // crosses two NormCompactEvery=8 boundaries
    def slice(b: Int) = n.where(pmod(col("id"), lit(nBatches)) === b)
      .select("id", "pre_proc", "nosuffix")
    def planSize(df: DataFrame): Int = {
      var c = 0
      df.queryExecution.logical.foreach(_ => c += 1)
      c
    }
    try {
      var st = Absorb.init(spark, table, 8, tmp("graft_census"),
        slice(0).persist())
      val sizes = scala.collection.mutable.ArrayBuffer[Int]()
      for (b <- 1 until nBatches) {
        st = Absorb.absorb(spark, st, slice(b).persist(),
          monitor = false).standing
        sizes += planSize(st.norm)
      }
      // maintained census must equal a recompute from the table at the
      // final batch boundary (the runaway/crossed decisions read it)
      val maintained = st.census.as[(String, Long)].collect().toSet
      val recomputed = spark.table(table).groupBy("key")
        .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toSet
      assert(maintained == recomputed,
        s"census drift: ${(maintained diff recomputed).take(3)} extra, " +
          s"${(recomputed diff maintained).take(3)} missing")
      // plan depth is sawtooth-bounded by the compaction, not linear in
      // batch count: the post-compaction depth at batch 16 must not
      // exceed the post-compaction depth at batch 8 (identical chain
      // shape each period — growth across periods means the compaction
      // is not truncating the union chain)
      val afterFirst = sizes(Absorb.NormCompactEvery - 1)
      val afterSecond = sizes(2 * Absorb.NormCompactEvery - 1)
      assert(afterSecond <= afterFirst,
        s"norm plan depth grew across compaction periods: $sizes")
      assert(st.labels.as[(Long, Long)].collect().toSet == want)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("compact(): rows identical, census+join still exchange-free, files per bucket collapse") {
    val n = norm()
    val parts = 4
    def slice(b: Int) = n.where(pmod(col("id"), lit(parts)) === b)
    val table = s"graft_compact_spec_${System.nanoTime()}"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedKeyTable.ensure(spark, table, 8, tmp("graft_compact")) {
        Pipeline.withBlockingKeys(slice(0)).select("id", "key", "nosuffix")
      }
      for (b <- 1 until parts)
        BucketedKeyTable.append(spark, table,
          Pipeline.withBlockingKeys(slice(b)).select("id", "key", "nosuffix"))
      val before = BucketedKeyTable.filesPerBucket(spark, table)
      assert(before.maxPerBucket >= parts,
        s"append should stack one file per batch per bucket: $before")
      val rowsBefore = spark.table(table)
        .as[(Long, String, String)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      BucketedKeyTable.compact(spark, table)
      val after = BucketedKeyTable.filesPerBucket(spark, table)
      assert(after.maxPerBucket == 1 && after.totalFiles <= before.buckets,
        s"compaction did not collapse files: $before -> $after")
      val rowsAfter = spark.table(table)
        .as[(Long, String, String)].collect()
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(rowsAfter == rowsBefore, "compaction changed the row multiset")
      Pipeline.assertStandingBucketed(spark, table)
      val plan = BucketedKeyTable.selfJoinPairs(spark, table)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"post-compaction self-join lost exchange-freedom:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }

  test("ensure() fails loudly on catalog-location or bucket-count drift") {
    val n = norm()
    val table = s"graft_guard_spec_${System.nanoTime()}"
    val dir = tmp("graft_guard")
    try {
      BucketedKeyTable.ensure(spark, table, 8, dir) {
        Pipeline.withBlockingKeys(n).select("id", "key", "nosuffix")
      }
      // same table name, different path: must refuse, not silently reuse
      intercept[IllegalArgumentException] {
        BucketedKeyTable.ensure(spark, table, 8, tmp("graft_guard_other")) {
          fail("must not build")
        }
      }
      // same path, wrong bucket count against the existing entry
      intercept[IllegalArgumentException] {
        BucketedKeyTable.ensure(spark, table, 16, dir)(fail("must not build"))
      }
      // wrong bucket count on RE-REGISTER (manifest mismatch)
      spark.sql(s"DROP TABLE $table")
      intercept[IllegalArgumentException] {
        BucketedKeyTable.ensure(spark, table, 16, dir)(fail("must not build"))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
