package graft

import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.pages.PagesGen
import graft.pipeline.Pipeline

/** Physical-plan audits: the scale-critical plan shapes asserted as
  * tests so optimizer/code drift cannot silently reintroduce the
  * round-1 pathologies (normalize cascade re-evaluated ~5× via filter
  * pushdown + join-constraint inference, payload reshuffles, missing
  * parquet pushdown/pruning). */
class PlanSpec extends SparkSuite {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString()

  test("normalize cascade lives ONLY in its memo projection") {
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    // every textual occurrence of the cascade — including echoes inside
    // cached-relation (InMemoryRelation) subtrees — must be the barrier
    // projection itself, never a Filter predicate or a join condition
    // (round-1 bug: pushdown substituted it into 2 filters × 2 join
    // sides = ~5 evaluations per raw row)
    for (df <- Seq(Pipeline.normalize(m),
        Pipeline.candidatesSelf(Pipeline.normalize(m)))) {
      val bad = plan(df).linesIterator
        .filter(_.contains("normalize_name"))
        .filterNot(l => l.contains("Project") && l.contains("opt_barrier(normalize_name"))
        .toList
      assert(bad.isEmpty, s"cascade escaped its memo projection:\n${bad.mkString("\n")}")
    }
  }

  test("pair hydration: broadcast joins + AQE-exempt id-pair fan-out") {
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    val p = plan(Pipeline.candidatesSelf(Pipeline.normalize(m)))
    // the wide name payload is attached via broadcast joins (preserving
    // the id-pair partitioning), never via a payload shuffle
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p.take(400))
    assert(p.contains("REPARTITION_BY_NUM"), p.take(400))
    // scoring runs above the distinct: match_score never appears below
    // the blocking-key join subtree (it needs hydrated columns, which
    // only exist post-dedup — assert it is absent here entirely)
    assert(!p.contains("match_score"))
  }

  test("broadcastNames=false really switches hydration to shuffle joins") {
    // the huge-name-memo seam (ADVICE r3): the flag must remove every
    // broadcast of the name tables from the hydration plan — on a
    // 10^12-document deployment a silent broadcast here is an 8GB/
    // driver-OOM hard failure, so the strategy switch is plan-asserted
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    val cfg = Pipeline.Config(broadcastNames = false)
    val p = plan(Pipeline.attachNames(SparkEntry.modPairs(Pipeline.normalize(m)),
      Pipeline.normalize(m), cfg))
    // the pair-building join upstream may legitimately broadcast; the
    // HYDRATION joins (keyed on id_a / id_b) must not
    val badBroadcast = p.linesIterator.filter(l =>
      l.contains("BroadcastHashJoin [id_a") || l.contains("BroadcastHashJoin [id_b"))
      .toList
    assert(badBroadcast.isEmpty,
      s"name hydration still broadcasts under broadcastNames=false:\n" +
        badBroadcast.mkString("\n"))
    assert(p.linesIterator.count(l =>
      l.contains("ShuffledHashJoin [id_a") || l.contains("ShuffledHashJoin [id_b") ||
        l.contains("SortMergeJoin [id_a") || l.contains("SortMergeJoin [id_b")) >= 2,
      s"expected shuffle hydration joins:\n${p.take(600)}")
  }

  test("scoring keeps its observability probes and a single cascade site") {
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    val p = plan(Pipeline.scoreCandidates(Pipeline.candidatesSelf(Pipeline.normalize(m))))
    assert(p.linesIterator.count(_.contains("CollectMetrics")) >= 2, "observes lost")
    assert(p.linesIterator.count(_.contains("match_score")) == 1)
  }

  test("fused edge path: prefilter below the pair dedup, hydration above it") {
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    val p = plan(Pipeline.edgeCandidatesSelf(Pipeline.normalize(m)))
    val lines = p.linesIterator.toVector
    // the cheap gate runs INSIDE the blocking-join tiers: every
    // prefilter site sits BELOW the pair-dedup aggregate, so rejected
    // pairs (99% at web density) never enter the dedup exchange
    val dedupIdx = lines.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("id_a"))
    val gateIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("prefilter_pass") => i }
    assert(dedupIdx >= 0, "pair-dedup aggregate not found:\n" + p.take(600))
    assert(gateIdxs.nonEmpty && gateIdxs.forall(_ > dedupIdx),
      s"prefilter not fused below the dedup (dedup@$dedupIdx, gates@$gateIdxs)")
    // name hydration stays broadcast and ABOVE the dedup
    val bcastIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("BroadcastHashJoin") => i }
    assert(bcastIdxs.count(_ < dedupIdx) >= 2,
      s"hydration joins not above the dedup (dedup@$dedupIdx, bcast@$bcastIdxs)")
  }

  test("fused self block join: one key census per consumer, fixed exchange count") {
    // the self-mode blocking join shares ONE census between its tiers
    // (the two-sided shape censuses each side and joins them); a second
    // census — or any new exchange — on the self path is a shuffle
    // regression on the dense-key workloads. Counts are of the initial
    // (pre-AQE) plan: 4 census subtrees (the small tier's two sides
    // and the grid tier's two sides each read the census through a
    // broadcast), each a partial + final aggregate
    val m = Pipeline.extractMentions(PagesGen.generate(spark, 50, 4))
      .select(col("mention_id").as("id"), col("name"))
    val norm = Pipeline.normalize(m)
    val keyed = Pipeline.withBlockingKeys(norm).select("id", "key", "nosuffix")
    val census =
      """HashAggregate\(keys=\[key#\d+\], functions=\[(partial_)?(count\(1\)|sum\(w)""".r
    for ((label, df, wantExchanges) <- Seq(
        ("edgeCandidatesSelf", Pipeline.edgeCandidatesSelf(norm), 19),
        ("candidatePairsSelf", Pipeline.candidatePairsSelf(keyed, Pipeline.Config(),
          cacheKeyed = false, earlyFilter = true), 17))) {
      val p = plan(df)
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      val nCensus = p.linesIterator.count(l => census.findFirstIn(l).isDefined)
      assert(nExchanges == wantExchanges,
        s"$label: $nExchanges hash exchanges, want $wantExchanges:\n$p")
      assert(nCensus == 8, s"$label: $nCensus key-census aggregates, want 8:\n$p")
    }
  }

  test("parquet scans push filters and prune columns") {
    val q15 = SparkEntry.queries("q15_ann_range")(spark, "/root/testdata/sf0.001")
    assert(plan(q15).contains("PushedFilters: [In(vec_id"), plan(q15).take(800))
    val q13 = SparkEntry.queries("q13_token_df")(spark, "/root/testdata/sf0.001")
    // only the text column is read from the 4-column documents table
    assert(plan(q13).contains("ReadSchema: struct<text:string>"), plan(q13).take(800))
  }

  test("the bench scoring shape (scan → prefilter → cascade) is whole-stage codegen") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    Seq(("acme systems inc", "acme system inc", "acme systems", "acme system"))
      .toDF("pre_a", "pre_b", "nos_a", "nos_b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .where(gf.prefilter_pass(col("nos_a"), col("nos_b"), 50))
      .withColumn("code", gf.match_score(col("pre_a"), col("pre_b")))
      .where(col("code") > 0)
    df.count() // AQE: codegen markers appear in the executed final plan
    val line = plan(df).linesIterator.find(_.contains("prefilter_pass")).get
    assert(line.contains("*("), s"scoring filter fell out of codegen: $line")
  }
}
