package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.block.{BlockingKeys, BucketedKeyTable}
import graft.cluster.ConnectedComponents
import graft.pipeline.{Absorb, Pipeline}
import graft.score.MatchCascade
import graft.text.Normalizer

/** What one repetition hands back: the DataFrames whose contents are
  * the result (checked, then released) and the latency of each batch
  * it processed (one batch for the one-shot workloads). */
final case class RepOut(outputs: Seq[DataFrame], batchNs: Seq[Long])

trait Workload {
  def name: String
  def cfg: Pipeline.Config = Pipeline.Config()
  /** Generate and materialize the inputs. */
  def setup(ctx: Ctx, seed: Long): Unit
  /** Build the state the repetitions start from, once per run (set-up
    * time, measured once). */
  def seedState(ctx: Ctx): Unit = ()
  /** Untimed per-repetition preparation (fresh copies of seeded state). */
  def prepare(ctx: Ctx, rep: Int): Unit = ()
  def run(ctx: Ctx): RepOut
  /** One untimed pass over the code the repetitions run. */
  def warmup(ctx: Ctx): Unit = {
    prepare(ctx, 0)
    run(ctx).outputs.foreach(ctx.release)
  }
  /** The same repetition through the layers' public entry points, one
    * materialized span per layer. */
  def traced(ctx: Ctx, t: Tracer): RepOut
  /** Counts that need extra jobs; computed once per traced run, outside
    * every timed region. */
  def census(ctx: Ctx): Map[String, Double] = Map.empty
  /** Per-layer metrics from the traced repetitions' spans and counts
    * and the run's census. */
  def layers(traces: Seq[Tracer], census: Map[String, Double]): Map[String, Double]
  /** A check made once per run outside the timed region, given the last
    * repetition's digest; Some(reason) when it fails. */
  def finalCheck(ctx: Ctx, lastDigest: String): Option[String] = None
  /** Row encodings of a result, for its digest. */
  def digest(out: RepOut): String =
    out.outputs.map(df => Digest.of(df.collect().map(_.mkString("\u0001")))).mkString("+")
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "resolve_dense" => new ResolveDense
    case "match_coined" => new MatchCoined
    case "absorb_stream" => new AbsorbStream
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Sum of the durations (s) of spans called `name`, per trace. */
  def spanSecs(t: Tracer, name: String): Double =
    t.spans.filter(_.name == name).map(_.duration).sum / 1e9

  def medianSpan(traces: Seq[Tracer], name: String): Double =
    Stats.median(traces.map(spanSecs(_, name)))

  def lastCount(traces: Seq[Tracer], name: String): Double =
    traces.last.counts.filter(_._2 == name).lastOption.map(_._3).getOrElse(0.0)

  /** Persist, count and return: the layer's output is materialized
    * inside its span, so the span owns its work. */
  def mat(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** Run one action with plan capture on and return its plan nodes. */
  def captured(ctx: Ctx)(action: => Unit): Seq[PlanStats.Node] = {
    ctx.probe.plans.synchronized(ctx.probe.plans.clear())
    ctx.probe.capturePlans = true
    // plans arrive on the listener bus: deliver them before capture ends
    try action finally { ctx.probe.drain(ctx.spark); ctx.probe.capturePlans = false }
    val ns = ctx.probe.plans.synchronized(ctx.probe.plans.toList).flatMap(PlanStats.nodes)
    ctx.probe.plans.synchronized(ctx.probe.plans.clear())
    ns
  }

  /** Blocking-join counts the plan shows: salted-tier rows, and the
    * shuffle bytes of the key exchanges and of the (id_a, id_b)
    * pair-dedup exchange. */
  def joinCounts(t: Tracer, ns: Seq[PlanStats.Node]): Unit = {
    val obs = PlanStats.observed(ns)
    val salted = obs.collect {
      case (n, r) if n.startsWith("graft_salted_pairs") => r.getLong(0).toDouble
    }.sum
    t.count("blockjoin.salted_pairs", salted)
    t.count("blockjoin.shuffle_mb", PlanStats.exchangeBytes(ns)(_("key")) / 1e6)
    t.count("dedup.shuffle_mb",
      PlanStats.exchangeBytes(ns)(_ == Set("id_a", "id_b")) / 1e6)
  }

  /** One-thread rate (items/s) of a scalar kernel over `items`: one
    * untimed pass to warm it, then whole passes for at least `secs`. */
  def kernelRate[A](items: Array[A], secs: Double = 0.3)(f: A => Any): Double = {
    if (items.isEmpty) return 0.0
    items.foreach(f)
    val t0 = System.nanoTime()
    var n = 0L
    while (System.nanoTime() - t0 < secs * 1e9) {
      items.foreach(f)
      n += items.length
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Block census of a keyed table with the runaway and salting tiers
    * the blocking join applies. */
  def blockCensus(keyed: DataFrame, cfg: Pipeline.Config): Map[String, Double] = {
    val sizes = Pipeline.blockSizes(keyed).collect().map(_.getLong(1))
    Map(
      "blockjoin.hot_keys" -> sizes.count(s => s > cfg.maxBlockSize && s <= cfg.runawayBlockSize).toDouble,
      "blockjoin.runaway_rows_dropped" -> sizes.filter(_ > cfg.runawayBlockSize).sum.toDouble,
      "blockjoin.runaway_keys" -> sizes.count(_ > cfg.runawayBlockSize).toDouble)
  }

  /** Scoring-layer counts and kernel rates shared by the one-shot
    * workloads, from the materialized candidate layers of a census. */
  def scoreCensus(ctx: Ctx, cfg: Pipeline.Config, rawNames: DataFrame, preNames: DataFrame,
      unfusedPairs: DataFrame, fusedHydrated: DataFrame): Map[String, Double] = {
    val ns = captured(ctx)(unfusedPairs.persist().count())
    val distinct = unfusedPairs.count().toDouble
    val raw = PlanStats.blockingJoinRows(ns).toDouble
    val passing = fusedHydrated.select("pre_a", "pre_b").limit(50000).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val names = rawNames.collect().map(_.getString(0))
    val pres = preNames.collect().map(_.getString(0))
    Map(
      "blockjoin.raw_pairs" -> raw,
      "prefilter.pairs_in" -> distinct,
      "dedup.useful_ratio" -> (if (raw > 0) distinct / raw else 0.0),
      "normalize.names_per_s" -> kernelRate(names)(Normalizer.namePreprocessing(_, cfg.removePeople)),
      "keying.names_per_s" -> kernelRate(pres)(BlockingKeys.keys(_)),
      "cascade.pairs_per_s" -> kernelRate(passing) { case (a, b) => MatchCascade.score(a, b) })
  }

  /** Per-layer metrics both one-shot workloads derive the same way. */
  def oneShotLayers(traces: Seq[Tracer], census: Map[String, Double]): Map[String, Double] = {
    val spans = Seq("extract", "normalize", "keying", "blockjoin", "hydrate", "score")
      .map(s => s"$s.s" -> medianSpan(traces, s)).toMap
    val c = lastCount(traces, _: String)
    val passing = c("hydrate.rows")
    spans ++ Map(
      "extract.rows_out" -> c("extract.rows_out"),
      "normalize.dropped_rows" -> (c("extract.rows_out") - c("normalize.rows_out")),
      "keying.keys_per_name" -> c("keying.keys") / math.max(1.0, c("keying.names")),
      "blockjoin.salted_pairs" -> c("blockjoin.salted_pairs"),
      "blockjoin.shuffle_mb" -> c("blockjoin.shuffle_mb"),
      "dedup.pairs_out" -> passing,
      "dedup.shuffle_mb" -> c("dedup.shuffle_mb"),
      "hydrate.rows" -> passing,
      "prefilter.pass_ratio" ->
        passing / math.max(1.0, census.getOrElse("prefilter.pairs_in", 0.0)),
      "cascade.pairs_in" -> c("cascade.pairs_in"),
      "cascade.accept_ratio" -> c("cascade.accepted") / math.max(1.0, c("cascade.pairs_in"))
    ) ++ census
  }

  def observedLong(ns: Seq[PlanStats.Node], name: String): Double =
    PlanStats.observed(ns).get(name).map(_.getLong(0).toDouble).getOrElse(0.0)
}

import Workloads._

/** `Pipeline.endToEnd` over the default small-vocabulary corpus: hot
  * shared blocking keys, the salted grid tier, pairs emitted under
  * several keys, pair dedup and CC. */
final class ResolveDense extends Workload {
  val name = "resolve_dense"
  val entities = 600L
  // the block cap scaled to the corpus: at this size the default cap
  // (200) leaves no block oversized, so the salted grid tier would
  // never run; 32 puts the shared-adjective blocks over it, as the
  // default cap does on a corpus ~6x larger
  override val cfg = Pipeline.Config(maxBlockSize = 32)
  val mentionsPerEntity = 4
  private var pages: DataFrame = _

  def setup(ctx: Ctx, seed: Long): Unit = {
    val first = Inputs.firstEntity(seed, entities, Inputs.DenseIdSpace)
    pages = ctx.materialize(Inputs.pages(ctx.spark, first, entities,
      mentionsPerEntity, coined = false, partitions = ctx.cores))
  }

  def run(ctx: Ctx): RepOut = {
    val t0 = System.nanoTime()
    val out = Pipeline.endToEnd(pages, cfg)
    RepOut(Seq(out), Seq(System.nanoTime() - t0))
  }

  def traced(ctx: Ctx, t: Tracer): RepOut = {
    // each layer's output is built exactly as endToEnd builds it, so
    // the final endToEnd call finds every layer in the CacheManager
    // and runs only what has no public entry: CC and the mention
    // expansion
    val out = t.span("rep") {
      val mentions = t.span("extract") {
        val (m, n) = mat(Pipeline.extractMentions(pages))
        t.count("extract.rows_out", n); m
      }
      val names = t.span("normalize") {
        val in = mentions.select(col("mention_id").as("id"), col("name"))
        val (norm, n) = mat(Pipeline.normalize(in, cfg))
        t.count("normalize.rows_out", n)
        val (names, nn) = mat(Pipeline.nameNodes(norm))
        t.count("keying.names", nn)
        names
      }
      val keyed = t.span("keying") {
        val (_, keyed) = Pipeline.edgeCandidatesSelfKeyed(names, cfg)
        t.count("keying.keys", keyed.count()); keyed
      }
      var pairs: DataFrame = null
      val ns = t.span("blockjoin")(captured(ctx) {
        pairs = Pipeline.candidatePairsSelf(keyed, cfg, cacheKeyed = false,
          earlyFilter = true).persist()
        pairs.count()
      })
      joinCounts(t, ns)
      val cand = t.span("hydrate") {
        val (c, n) = mat(Pipeline.attachNames(pairs, names, cfg))
        t.count("hydrate.rows", n); c
      }
      val sns = t.span("score")(captured(ctx) {
        val edges = Pipeline.scoreCandidates(cand, cfg).persist()
        t.count("cc.edges_in", edges.count())
      })
      t.count("cascade.pairs_in", observedLong(sns, "graft_candidates"))
      t.count("cascade.accepted", observedLong(sns, "graft_edges"))
      t.span("endToEnd")(Pipeline.endToEnd(pages, cfg))
    }
    val rep = t.spans.last
    val e2e = t.spans.find(_.name == "endToEnd").get
    ctx.probe.drain(ctx.spark)
    ctx.probe.jobsBetween(e2e.start, e2e.end)
      .filter(_.callSite.contains("graft.cluster.ConnectedComponents"))
      .foreach(j => t.addSpan("cc", j.startNs, j.endNs, e2e.id))
    t.count("cc.components", out.select("component").distinct().count())
    RepOut(Seq(out), Seq(rep.end - rep.start))
  }

  override def census(ctx: Ctx): Map[String, Double] = {
    val in = Pipeline.extractMentions(pages)
      .select(col("mention_id").as("id"), col("name")).persist()
    val rows = in.count().toDouble
    val rawNames = in.select("name").distinct().persist()
    val norm = Pipeline.normalize(in, cfg).persist()
    val names = Pipeline.nameNodes(norm).persist()
    val keyed = Pipeline.withBlockingKeys(names)
      .select(col("id"), col("key"), col("nosuffix"), col("w")).persist()
    val fused = Pipeline.attachNames(Pipeline.candidatePairsSelf(keyed, cfg,
      cacheKeyed = false, earlyFilter = true), names, cfg)
    val unfused = Pipeline.candidatePairsSelf(keyed, cfg, cacheKeyed = false)
    val out = Map("normalize.distinct_ratio" -> rawNames.count() / rows) ++
      blockCensus(keyed, cfg) ++
      scoreCensus(ctx, cfg, rawNames, names.select("pre_proc"), unfused, fused)
    ctx.reset()
    out
  }

  def layers(traces: Seq[Tracer], census: Map[String, Double]): Map[String, Double] =
    oneShotLayers(traces, census) ++ Map(
      "cc.s" -> medianSpan(traces, "cc"),
      "cc.jobs" -> traces.last.spans.count(_.name == "cc").toDouble,
      "cc.edges_in" -> lastCount(traces, "cc.edges_in"),
      "cc.components" -> lastCount(traces, "cc.components"))
}

/** The two-sided matcher flow over coined names with many mentions per
  * entity: distinctive first tokens, most candidates pass the prefilter,
  * names repeat. No CC. */
final class MatchCoined extends Workload {
  val name = "match_coined"
  val entities = 1500L
  val mentionsPerEntity = 8
  private var pages: DataFrame = _
  private var baseRaw: DataFrame = _

  def setup(ctx: Ctx, seed: Long): Unit = {
    val first = Inputs.firstEntity(seed, entities, Inputs.CoinedIdSpace)
    pages = ctx.materialize(Inputs.pages(ctx.spark, first, entities,
      mentionsPerEntity, coined = true, partitions = ctx.cores))
    baseRaw = ctx.materialize(Inputs.baseUniverse(ctx.spark, first, entities, coined = true))
  }

  private def mainIn: DataFrame =
    Pipeline.extractMentions(pages).select(col("mention_id").as("id"), col("name"))

  def run(ctx: Ctx): RepOut = {
    val t0 = System.nanoTime()
    val main = Pipeline.normalize(mainIn, cfg)
    val base = Pipeline.normalize(baseRaw, cfg)
    val out = Pipeline.scoreCandidates(Pipeline.edgeCandidatesTwoSided(main, base, cfg), cfg)
      .select("id_a", "id_b", "code", "score").localCheckpoint(true)
    RepOut(Seq(out), Seq(System.nanoTime() - t0))
  }

  def traced(ctx: Ctx, t: Tracer): RepOut = {
    val out = t.span("rep") {
      val in = t.span("extract") {
        val (m, n) = mat(mainIn)
        t.count("extract.rows_out", n); m
      }
      val (main, base) = t.span("normalize") {
        val (main, n) = mat(Pipeline.normalize(in, cfg))
        val (base, nb) = mat(Pipeline.normalize(baseRaw, cfg))
        t.count("normalize.rows_out", n)
        t.count("keying.names", n + nb)
        (main, base)
      }
      val (keyedM, keyedB) = t.span("keying") {
        val (km, nm) = mat(Pipeline.withBlockingKeys(main)
          .select(col("key"), col("id").as("id_a"), col("nosuffix").as("nos_a")))
        val (kb, nb) = mat(Pipeline.baseKeyed(base))
        t.count("keying.keys", nm + nb)
        (km, kb)
      }
      var pairs: DataFrame = null
      val ns = t.span("blockjoin")(captured(ctx) {
        pairs = Pipeline.candidatePairsTwoSided(keyedM, keyedB, cfg,
          earlyFilter = true).persist()
        pairs.count()
      })
      joinCounts(t, ns)
      val cand = t.span("hydrate") {
        val (c, n) = mat(Pipeline.attachNames2(pairs, main, base, cfg))
        t.count("hydrate.rows", n); c
      }
      var out: DataFrame = null
      val sns = t.span("score")(captured(ctx) {
        out = Pipeline.scoreCandidates(cand, cfg)
          .select("id_a", "id_b", "code", "score").localCheckpoint(true)
      })
      t.count("cascade.pairs_in", observedLong(sns, "graft_candidates"))
      t.count("cascade.accepted", observedLong(sns, "graft_edges"))
      out
    }
    val rep = t.spans.last
    RepOut(Seq(out), Seq(rep.end - rep.start))
  }

  override def census(ctx: Ctx): Map[String, Double] = {
    val in = mainIn.persist()
    val rows = in.count().toDouble
    val rawNames = in.select("name").unionByName(baseRaw.select("name")).distinct().persist()
    val main = Pipeline.normalize(in, cfg).persist()
    val base = Pipeline.normalize(baseRaw, cfg).persist()
    val keyedM = Pipeline.withBlockingKeys(main)
      .select(col("key"), col("id").as("id_a"), col("nosuffix").as("nos_a")).persist()
    val keyedB = Pipeline.baseKeyed(base).persist()
    val fused = Pipeline.attachNames2(Pipeline.candidatePairsTwoSided(keyedM, keyedB,
      cfg, earlyFilter = true), main, base, cfg)
    val unfused = Pipeline.candidatePairsTwoSided(keyedM.drop("nos_a"),
      keyedB.drop("nos_b"), cfg)
    // the two-sided join salts a key hot on EITHER side and drops keys
    // whose base side crosses the runaway bound
    val sm = keyedM.groupBy("key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sb = keyedB.groupBy("key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hot = sb.count { case (k, b) =>
      b <= cfg.runawayBlockSize && sm.contains(k) &&
        (b > cfg.maxBlockSize || sm(k) > cfg.maxBlockSize)
    }
    val runaway = sb.filter(_._2 > cfg.runawayBlockSize)
    val out = Map(
      "normalize.distinct_ratio" -> in.select("name").distinct().count() / rows,
      "blockjoin.hot_keys" -> hot.toDouble,
      "blockjoin.runaway_rows_dropped" -> runaway.values.sum.toDouble,
      "blockjoin.runaway_keys" -> runaway.size.toDouble) ++
      scoreCensus(ctx, cfg, rawNames, main.select("pre_proc").unionByName(base.select("pre_proc")),
        unfused, fused)
    ctx.reset()
    out
  }

  def layers(traces: Seq[Tracer], census: Map[String, Double]): Map[String, Double] =
    oneShotLayers(traces, census)
}

/** The closed absorb loop: `Absorb.init` on a seed slice (set-up), then
  * a run of equal increments absorbed one after another — bucketed
  * append, label and census checkpoints next to the bucketed cross join
  * and hydration. */
final class AbsorbStream extends Workload {
  val name = "absorb_stream"
  val entities = 300L
  val mentionsPerEntity = 4
  val increments = 2
  val buckets = 4
  val phases = Seq("census", "pairs", "hydrate-restrict", "score", "labels", "append")

  private var seedNorm: DataFrame = _
  private var incs: Seq[DataFrame] = Nil
  private var seedState: Absorb.Standing = _
  private var seedDir: File = _
  private var standing: Absorb.Standing = _
  private var repDir: File = _

  private var pages: DataFrame = _

  def setup(ctx: Ctx, seed: Long): Unit = {
    val first = Inputs.firstEntity(seed, entities, Inputs.DenseIdSpace)
    pages = ctx.materialize(Inputs.pages(ctx.spark, first, entities, mentionsPerEntity,
      coined = false, partitions = ctx.cores))
  }

  /** The normalized corpus: half of it seeds the standing state through
    * Absorb.init, the other half arrives as `increments` equal slices. */
  override def seedState(ctx: Ctx): Unit = {
    val corpus = Pipeline.normalize(Pipeline.extractMentions(pages)
      .select(col("mention_id").as("id"), col("name")), cfg)
      .select("id", "pre_proc", "nosuffix")
    val slice = pmod(col("id"), lit(2L * increments))
    seedNorm = ctx.materialize(corpus.where(slice < increments))
    incs = (0 until increments).map(i => ctx.materialize(corpus.where(slice === increments + i)))
    seedDir = new File(ctx.dir, "absorb-seed")
    seedState = Absorb.init(ctx.spark, "perfbench_seed", buckets, seedDir.getPath,
      seedNorm, cfg)
    ctx.keep(seedState.labels); ctx.keep(seedState.census)
    ctx.keepTable("perfbench_seed")
  }

  /** Fresh copies of the seeded state: the table's files under a new
    * name and location, and new checkpoints of labels and census (the
    * absorb loop releases the checkpoints it supersedes). */
  override def prepare(ctx: Ctx, rep: Int): Unit = {
    if (repDir != null) Files.deleteTree(repDir)
    repDir = new File(ctx.dir, s"absorb-rep$rep")
    Files.copyTree(seedDir, repDir)
    val table = s"perfbench_rep$rep"
    BucketedKeyTable.ensure(ctx.spark, table, buckets, repDir.getPath) {
      throw new IllegalStateException("seed table files missing")
    }
    def copy(df: DataFrame) = org.apache.spark.sql.GraftBridge.eagerNoStats(df)
    standing = Absorb.Standing(table, seedState.norm, copy(seedState.labels),
      copy(seedState.census))
  }

  private def loop(ctx: Ctx,
      batch: (() => Absorb.BatchResult) => Absorb.BatchResult): RepOut = {
    val times = mutable.ArrayBuffer.empty[Long]
    val edges = mutable.ArrayBuffer.empty[DataFrame]
    var st = standing
    incs.zipWithIndex.foreach { case (inc, i) =>
      val t0 = System.nanoTime()
      val br = batch(() => Absorb.absorb(ctx.spark, st, inc, cfg))
      times += System.nanoTime() - t0
      st = br.standing
      edges += br.newEdges
    }
    standing = st
    RepOut(st.labels +: edges.toSeq, times.toSeq)
  }

  def run(ctx: Ctx): RepOut = loop(ctx, b => b())

  def traced(ctx: Ctx, t: Tracer): RepOut = t.span("rep") {
    loop(ctx, { b =>
      val r = t.span("batch")(b())
      val s = t.spans.last
      ctx.probe.drain(ctx.spark)
      val jobs = ctx.probe.jobsBetween(s.start, s.end)
      t.count("absorb.jobs_per_batch", jobs.size)
      jobs.foreach { j =>
        val ph = j.description.stripPrefix("absorb: ")
        if (j.description.startsWith("absorb: ")) {
          t.addSpan(s"absorb.$ph", j.startNs, j.endNs, s.id)
          t.count(s"absorb.$ph.shuffle_bytes", j.totals.shuffleWriteBytes)
        }
      }
      t.count("absorb.files_per_bucket_max",
        BucketedKeyTable.filesPerBucket(ctx.spark, r.standing.table).maxPerBucket)
      r
    })
  }

  def layers(traces: Seq[Tracer], census: Map[String, Double]): Map[String, Double] = {
    val batches = traces.flatMap(t => t.spans.filter(_.name == "batch").map(b => (t, b)))
    def perBatch(ph: String) = batches.map { case (t, b) =>
      t.childrenOf(b.id).filter(_.name == s"absorb.$ph").map(_.duration).sum / 1e9
    }
    val secs = batches.map(_._2.duration / 1e9)
    // growth within each repetition's sequence of increments
    val growth = traces.map { t =>
      val xs = t.spans.filter(_.name == "batch").sortBy(_.start).map(_.duration / 1e9)
      Stats.growth(xs)
    }
    val shuffle = phases.filter(Set("census", "pairs", "append")).map { ph =>
      val perRep = traces.map(_.counts.filter(_._2 == s"absorb.$ph.shuffle_bytes").map(_._3).sum)
      s"absorb.$ph.shuffle_mb" -> Stats.median(perRep) / increments / 1e6
    }
    val tail = Stats.tail(secs)
    phases.map(ph => s"absorb.$ph.s" -> Stats.median(perBatch(ph))).toMap ++ shuffle ++ Map(
      "absorb.jobs_per_batch" -> Stats.median(traces.flatMap(
        _.counts.filter(_._2 == "absorb.jobs_per_batch").map(_._3))),
      "absorb.files_per_bucket_max" -> lastCount(traces, "absorb.files_per_bucket_max"),
      "absorb.batch_growth" -> Stats.median(growth),
      "absorb.batch_s_tail" -> tail.map(_._2).getOrElse(secs.max),
      "absorb.batch_s_tail_pct" -> tail.map(_._1).getOrElse(100.0),
      "absorb.batch_s_n" -> secs.size.toDouble)
  }

  /** The Absorb union-equivalence contract: the final labels equal
    * one-shot clustering of seed ∪ increments, provided no blocking key
    * crossed the runaway bound part-way through the history (such keys
    * are reported and fail the check). */
  override def finalCheck(ctx: Ctx, lastDigest: String): Option[String] = {
    val prefixes = (0 to incs.size).map(k => (seedNorm +: incs.take(k)).reduce(_ unionByName _))
    val censuses = prefixes.map(p => Pipeline.withBlockingKeys(p).groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val crossed = censuses.sliding(2).flatMap { case Seq(prev, next) =>
      next.collect { case (k, n) if n > cfg.runawayBlockSize &&
        prev.get(k).exists(p => p > 0 && p <= cfg.runawayBlockSize) => k }
    }.toSeq.distinct
    val union = prefixes.last.persist()
    val edges = Pipeline.scoreCandidates(Pipeline.edgeCandidatesSelf(union, cfg), cfg)
      .select("id_a", "id_b")
    val oneShot = ConnectedComponents.assignAll(edges, union.select("id"))
    val want = Digest.of(oneShot.collect().map(_.mkString("\u0001")))
    val got = lastDigest.split('+').head
    ctx.reset()
    if (crossed.nonEmpty) Some(s"keys crossed the runaway bound mid-history: ${crossed.mkString(",")}")
    else if (want != got) Some(s"absorbed labels $got differ from one-shot clustering $want")
    else None
  }
}
