package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators owned by the benchmark. Every value is a pure
  * function of (seed, row key), so the same seed writes the same parquet;
  * the program under test only ever sees that parquet.
  */
object Inputs {
  val Month = "2023-01"
  val Year = 2023
  val Days = 31
  /** Grid spacing in metres, as on the production 10 km grid. */
  val Spacing = 10000.0

  /** `n` cells laid out row-major, `nx` per row, like the production grid
    * (33,074 cells in rows of 182). The last row may be partial.
    */
  final case class Grid(n: Int, nx: Int) {
    val ny: Int = (n + nx - 1) / nx
    def ix(id: Int): Int = id % nx
    def iy(id: Int): Int = id / nx
  }

  /** A column of the ERA5-Land family: `base + ax·ix + ay·iy + ad·day`.
    * Every coefficient is a multiple of 1/16 and every value stays below
    * 2^12, so values are exact in float32 (the combine's storage type)
    * and a linear interpolation inside the hull reproduces the plane.
    */
  final case class Plane(base: Double, ax: Double, ay: Double, ad: Double) {
    def at(ix: Int, iy: Int, day: Int): Double = base + ax * ix + ay * iy + ad * day
  }

  def planes(seed: Long, k: Int): IndexedSeq[Plane] = (0 until k).map { j =>
    Plane(240.0 + 8 * j, (1 + Math.floorMod(seed + j, 4L)) / 8.0,
      (1 + Math.floorMod(seed * 3 + j, 4L)) / 16.0, 0.25)
  }

  /** Share of (cell, day) pairs the ERA5 family misses, one mask per day. */
  val Era5MissingPct = 12

  private def h(seed: Long, salt: Int, keys: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: keys): _*)

  /** Uniform in [0, 1) from a hash. */
  private def unit(seed: Long, salt: Int, keys: Column*): Column =
    pmod(h(seed, salt, keys: _*), lit(1000000L)) / 1e6

  def gridFrame(spark: SparkSession, g: Grid): DataFrame =
    spark.range(g.n).select(col("id").as("grid_id"),
      ((col("id") % g.nx) * Spacing).as("original_x"),
      (floor(col("id") / g.nx) * Spacing).as("original_y"))

  /** One row per (cell, day) of [[Month]]. */
  private def cellDays(spark: SparkSession, g: Grid): DataFrame =
    spark.range(g.n.toLong * Days).select(
      (col("id") % g.n).as("grid_id"),
      (floor(col("id") / g.n) + 1).cast("int").as("day"))
      .select(col("grid_id"), col("day"),
        date_format(date_add(lit(s"$Month-01").cast("date"), col("day") - 1),
          "yyyy-MM-dd").as("date"),
        (col("grid_id") % g.nx).as("ix"), floor(col("grid_id") / g.nx).as("iy"))

  val Era5Columns: Seq[String] =
    Seq("temperature_2m", "dewpoint_temperature_2m", "surface_pressure")

  /** ERA5-Land: `k` plane columns sharing one land mask per day. */
  def era5(spark: SparkSession, g: Grid, seed: Long, k: Int): DataFrame = {
    val missing = pmod(h(seed, 1, col("grid_id"), col("day")), lit(100)) < Era5MissingPct
    cellDays(spark, g).select(col("grid_id") +: col("date") +:
      planes(seed, k).zip(Era5Columns).map { case (p, name) =>
        when(missing, lit(null).cast("double")).otherwise(lit(p.base) +
          col("ix") * p.ax + col("iy") * p.ay + col("day") * p.ad).as(name)
      }: _*)
  }

  /** Static elevation, random per cell. */
  def srtm(spark: SparkSession, g: Grid, seed: Long): DataFrame =
    spark.range(g.n).select(col("id").as("grid_id"),
      (lit(100.0) + pmod(h(seed, 2, col("id")), lit(500L))).as("elevation"))

  /** Static grid attributes; `id_50km` is the 5 × 5-cell block. */
  def gridAttrs(spark: SparkSession, g: Grid): DataFrame =
    spark.range(g.n).select(col("id").as("grid_id"),
      (floor((col("id") % g.nx) / 5) + floor(floor(col("id") / g.nx) / 5) * 1000)
        .as("id_50km"),
      (floor(col("id") / g.nx) * 0.09 + 8.0).as("lat"),
      ((col("id") % g.nx) * 0.09 + 68.0).as("lon"),
      pmod(floor((col("id") % g.nx) / 20), lit(4L)).as("k_region"))

  /** The imputation target, learnable from elevation, temperature and
    * day: `0.2 + elevation/2000 + (t2m − 240)/250 + day/500` plus small
    * noise, ~5% missing.
    */
  def merraAot(spark: SparkSession, g: Grid, seed: Long): DataFrame = {
    val t2m = planes(seed, 1).head
    val elevation = lit(100.0) + pmod(h(seed, 2, col("grid_id")), lit(500L))
    val temp = lit(t2m.base) + col("ix") * t2m.ax + col("iy") * t2m.ay + col("day") * t2m.ad
    cellDays(spark, g).select(col("grid_id"), col("date"),
      when(unit(seed, 3, col("grid_id"), col("day")) < 0.05, lit(null).cast("double"))
        .otherwise(lit(0.2) + elevation / 2000 + (temp - 240) / 250 + col("day") / 500 +
          unit(seed, 4, col("grid_id"), col("day")) * 0.01)
        .as("aot"))
  }

  // ------------------------------------------------------------- dedup

  val WordsPerDoc = 40
  private val Vocab = 1000003L

  private def words(seed: Long, salt: Int, key: Column): Column =
    transform(sequence(lit(0), lit(WordsPerDoc - 2)), j =>
      concat(lit("w"), pmod(h(seed, salt, key, j), lit(Vocab)).cast("string")))

  private def word(seed: Long, salt: Int, keys: Column*): Column =
    concat(lit("w"), pmod(h(seed, salt, keys: _*), lit(Vocab)).cast("string"))

  private def text(body: Column, last: Column): Column =
    concat_ws(" ", concat(body, array(last)))

  /** The corpus: docs `4c … 4c+3` for `c < clusters` are a planted
    * cluster (a base doc, an exact copy of it, and two docs whose last
    * word differs, so every pair inside a cluster has exact Jaccard 1 or
    * 37/39 over word 3-shingles); the other docs are random 40-word texts
    * over a 10^6-word vocabulary.
    */
  def corpus(spark: SparkSession, seed: Long, docs: Long, clusters: Long): DataFrame = {
    val id = col("id")
    val c = floor(id / 4)
    val role = id % 4
    val tag = when(role < 2, lit(0L)).otherwise(role - 1)
    spark.range(docs).select(id.as("doc_id"),
      when(id < clusters * 4, text(words(seed, 11, c), word(seed, 13, c, tag)))
        .otherwise(text(words(seed, 12, id), word(seed, 14, id))).as("text"))
  }

  /** First id of the fresh batch; batch ids never collide with corpus ids. */
  val BatchIdBase = 1000000000L

  /** A fresh batch: its first `planted` docs are third variants of corpus
    * clusters `0, stride, 2·stride, …` (Jaccard 37/39 with each of the
    * four members); the rest are random texts.
    */
  def batch(spark: SparkSession, seed: Long, docs: Long, planted: Long,
            stride: Long): DataFrame = {
    val i = col("id")
    val c = i * stride
    spark.range(docs).select((i + BatchIdBase).as("doc_id"),
      when(i < planted, text(words(seed, 11, c), word(seed, 13, c, lit(3L))))
        .otherwise(text(words(seed, 15, i), word(seed, 16, i))).as("text"))
  }
}
