package graft

import org.apache.spark.sql.functions._

import graft.block.BucketedKeyTable
import graft.pages.PagesGen
import graft.pipeline.Pipeline

/** The bucketed-blocking-join contract: persisting the keyed mention
  * table bucketed by `key` must make the blocking self-join
  * exchange-free (the scan delivers co-partitioned buckets) while
  * producing exactly the candidate pairs the in-memory join produces. */
class BucketedJoinSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed key table: blocking self-join plans ZERO exchanges, same pairs") {
    val pages = PagesGen.generate(spark, nEntities = 60, mentionsPerEntity = 4)
    val m = Pipeline.extractMentions(pages)
      .select(col("mention_id").as("id"), col("name"))
    val keyed = Pipeline.withBlockingKeys(Pipeline.normalize(m))
      .select("id", "key")
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    // a tiny table would otherwise broadcast-join, which has no
    // exchange regardless of bucketing and would make the assertion
    // vacuous — force the shuffle-join planner path
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      BucketedKeyTable.write(keyed, "graft_keyed_bucketed_test", 8, dir)
      val pairs = BucketedKeyTable.selfJoinPairs(spark, "graft_keyed_bucketed_test")
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed blocking self-join still shuffles:\n$plan")

      // the identical join over the plain DataFrame DOES exchange —
      // the bucketing, not the data size, is what removed it
      val a = keyed.select($"key", $"id".as("id_a"))
      val b = keyed.select($"key", $"id".as("id_b"))
      val plain = a.join(b, Seq("key")).where($"id_a" < $"id_b")
        .select("id_a", "id_b")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))

      // same candidate pairs (incl. multiplicity per shared key)
      val got = pairs.groupBy("id_a", "id_b").count()
        .as[(Long, Long, Long)].collect().toSet
      val want = plain.groupBy("id_a", "id_b").count()
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want)
      assert(got.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_keyed_bucketed_test")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}
