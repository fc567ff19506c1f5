package graft.perfbench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pages.{Extract, PagesGen}

/** Seeded workload inputs. Every workload draws from the program's own
  * page generator ([[PagesGen.htmlFor]]); the seed only picks WHICH
  * contiguous range of entity ids is generated, so two seeds give
  * disjoint entities with the same statistics. The program only ever
  * receives the generated DataFrames. */
object Inputs {

  /** Entity ids below which the small-vocabulary generator names every
    * entity from (adjective, noun, noun) combos alone: 36·30·31. Beyond
    * it, names gain a shared "District n" token that changes blocking,
    * so seeded ranges stay below it. */
  val DenseIdSpace: Long = 36L * 30 * 31

  /** Ids below which coined names have exactly four syllables (20^4). */
  val CoinedIdSpace: Long = 160000L

  /** First entity id of the range a seed selects: the id space is cut
    * into whole ranges of `width` ids and the seed picks one. */
  def firstEntity(seed: Long, width: Long, space: Long): Long =
    java.lang.Math.floorMod(seed, space / width) * width

  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en", "de", "ja")

  /** Page row i: mention (i mod mpe) of entity (i / mpe), in the shape
    * PagesGen.generate emits (url, warc_ts, html, text, lang). */
  private def pageRow(i: Long, mpe: Int, coined: Boolean): Row = {
    val e = i / mpe
    val v = (i % mpe).toInt
    val lang = langs(((e * 31 + v) % langs.length).toInt)
    val bytes = PagesGen.htmlFor(e, v, lang, coined).getBytes(StandardCharsets.UTF_8)
    Row(s"https://host$e-$v.example/profile", new Timestamp(1609459200000L + i * 1000L),
      bytes, Extract.extractText(bytes), lang)
  }

  private val pageSchema = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** Pages of entities [first, first + n), `mpe` mentions each. Rows are
    * built as plain Rows against an explicit schema. */
  def pages(spark: SparkSession, first: Long, n: Long, mpe: Int, coined: Boolean,
      partitions: Int): DataFrame = {
    val rows = spark.sparkContext.range(first * mpe, (first + n) * mpe, 1, partitions)
      .map(i => pageRow(i, mpe, coined))
    spark.createDataFrame(rows, pageSchema)
  }

  /** One canonical name per entity of [first, first + n) — the base
    * universe of the two-sided matcher (PagesGen.baseUniverse's rows
    * for that range). */
  def baseUniverse(spark: SparkSession, first: Long, n: Long, coined: Boolean): DataFrame = {
    val rows = spark.sparkContext.range(first, first + n, 1, 4).map { e =>
      Row(e, (if (coined) PagesGen.coinedBaseName(e) else PagesGen.entityBaseName(e)) + " Inc.")
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))
  }
}
