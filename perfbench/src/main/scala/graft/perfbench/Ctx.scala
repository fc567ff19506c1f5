package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One Spark session's state for a run: the session, its probe, the
  * run's fresh directory, and the RDDs that survive between
  * repetitions (the generated inputs and any seeded state). */
final class Ctx(val spark: SparkSession, val probe: Probe, val dir: File) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private val kept = mutable.Set.empty[Int]
  private val keptTables = mutable.Set.empty[String]

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }

  /** Materialize `df` as a local checkpoint that outlives resets. */
  def materialize(df: DataFrame): DataFrame = keep(df.localCheckpoint(true))

  def keep(df: DataFrame): DataFrame = { kept ++= rddIds(df); df }

  def keepTable(name: String): Unit = keptTables += name

  /** Drop the checkpoint blocks behind a result once it is checked. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD if !kept(r.rdd.id) => r.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** Storage blocks (memory + disk) of the persisted RDDs something
    * still references, in MB. A full GC first drops the RDDs nothing
    * references (Spark tracks persisted RDDs weakly and frees their
    * blocks in the background), so the reading does not depend on when
    * that cleanup happens to run. */
  def retainedMb: Double = {
    System.gc()
    val live = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.getRDDStorageInfo.filter(i => live(i.id))
      .map(i => i.memSize + i.diskSize).sum / 1e6
  }

  /** Bring the session back to its post-set-up state: empty the
    * CacheManager, unpersist every RDD that is not kept, and drop
    * every catalog table that is not kept. */
  def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = true)
    }
    spark.catalog.listTables().collect().map(_.name)
      .filterNot(keptTables).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: File, to: File): Unit = {
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(c => copyTree(c, new File(to, c.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)
  }
}
