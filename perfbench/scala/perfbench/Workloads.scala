package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{StageRef, StageStorage}
import graft.dedup.{Dedup, MinHashStorage}
import graft.features.FeatureGenerator
import graft.ml.{ImputationModel, ModelStore}
import graft.operators.CombinePlanner
import graft.pipeline.Pm25Pipeline
import graft.pipeline.Pm25Pipeline._
import graft.spatial.{Delaunay, KdTree}

/** Counts the public calls a workload makes and names the one running,
  * so a call that throws is charged to its operation.
  */
final class Ops(trace: Trace) {
  var attempted = 0
  var current = ""
  def call[T](name: String, calls: Int = 1)(body: => T): T = {
    attempted += calls
    current = name
    trace.span(name)(body)
  }
}

/** Result of one iteration's output checks: `(operation, message)` for
  * every check that failed, and the counts the checks measured.
  */
final case class Checked(failures: Seq[(String, String)], counts: Map[String, Double])

trait Workload {
  /** Input rows per iteration: grid-days, or docs. */
  def rows: Long
  /** Iterations an untraced run times. */
  def iterations: Int
  /** One set-up: seeded inputs under `dir`, plus anything the program
    * keeps at rest. Called several times; the last `dir` stays in use.
    */
  def prepare(dir: String): Unit
  /** One iteration of public calls, writing under the fresh `root`. */
  def run(root: String, ops: Ops): Unit
  def check(root: String): Checked
  /** Kernel spans and input-side counts (traced run only). */
  def kernels(t: Tracer): Map[String, Double]
}

object Workloads {
  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "month_e2e" => new MonthE2e(spark, seed)
    case "dedup_corpus" => new DedupCorpus(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Recursive file listing (path → size, mtime) under `dir`. */
  def listing(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists()) Map.empty
    else if (dir.isFile) Map(dir.getPath -> ((dir.length(), dir.lastModified())))
    else Option(dir.listFiles()).toSeq.flatten.flatMap(f => listing(f)).toMap

  def bytesUnder(dir: File): Long = listing(dir).values.map(_._1).sum
}

import Inputs._

/** The composed s01→s09 month: combine → K1 → recombine → features, an
  * idempotent re-run of s01, then sampling, both GBT models, prediction
  * and the NetCDF raster. ERA5-Land brings three columns that share one
  * land mask per day, so K1 sees the production case of several columns
  * per mask.
  */
final class MonthE2e(spark: SparkSession, seed: Long) extends Workload {
  import MonthE2e._
  val grid: Grid = Grid(Cells, PerRow)
  def rows: Long = grid.n.toLong * Days
  def iterations: Int = 1
  private var in = ""
  private lazy val gridDf = gridFrame(spark, grid).cache()
  private val era5Names = Era5Columns.take(Era5Cols).map("era5_land__" + _)
  private val target = "merra_aot__aot"
  private val featureConfig = FeatureGenerator.Config(
    baseColumns = Seq(target, era5Names(0)),
    tempCol = Some(era5Names(0)), dewCol = Some(era5Names(1)))
  private val features = Seq(era5Names(0), "day_of_year", "srtm__elevation")
  private val gate = ImputationModel.QualityGate(MinCvR2, 1.0)
  private val hp = ImputationModel.Hyperparams(maxDepth = 4, maxIter = 4)
  /** Per-month stages whose row count must equal cells × days. */
  private val monthStages = Seq(CombinedMonthly -> "operators.combine",
    Era5SpatiallyImputed -> "spatial.impute",
    CombinedWithSpatial -> "operators.recombine",
    GeneratedFeatures -> "features.generate",
    StageRef("imputed", Some("aod")) -> "ml.impute",
    StageRef("imputed") -> "operators.recombine_imputed",
    FinalPrediction -> "ml.final_predict")
  private val s01Stages = monthStages.take(3).map(_._1)
  private var beforeRerun = Map.empty[String, (Long, Long)]
  private var r2 = Seq.empty[(String, Double)]

  def prepare(dir: String): Unit = {
    era5(spark, grid, seed, Era5Cols).write.parquet(s"$dir/era5_land")
    merraAot(spark, grid, seed).write.parquet(s"$dir/merra_aot")
    srtm(spark, grid, seed).write.parquet(s"$dir/srtm")
    gridAttrs(spark, grid).write.parquet(s"$dir/grid")
    in = dir
  }

  private def combine(pipe: Pm25Pipeline): Unit = {
    val specs = Seq("era5_land", "merra_aot").map(
      CombinePlanner.DatasetSpec(_, CombinePlanner.Monthly)) ++
      Seq("srtm", "grid").map(CombinePlanner.DatasetSpec(_, CombinePlanner.Static))
    val available = Map("era5_land" -> Seq(Month), "merra_aot" -> Seq(Month),
      "srtm" -> Seq("static"), "grid" -> Seq("static"))
    pipe.runCombine(Seq(Month), specs, available, (name, _) => spark.read.parquet(s"$in/$name"))
  }

  private def s01Listing(root: String) = s01Stages.map(ref =>
    Workloads.listing(new File(new StageStorage(spark, root).stagePath(ref)))).reduce(_ ++ _)

  def run(root: String, ops: Ops): Unit = {
    val pipe = new Pm25Pipeline(spark, new StageStorage(spark, root), gridDf, grid.n.toLong)
    val store = new ModelStore(spark, s"$root/models")
    ops.call("operators.combine") { combine(pipe) }
    ops.call("spatial.impute") { pipe.runSpatialImpute(Seq(Month), Era5Pattern) }
    ops.call("operators.recombine") { pipe.runRecombine(Seq(Month)) }
    ops.call("features.generate") { pipe.runGenerateFeatures(Seq(Year), featureConfig) }
    beforeRerun = s01Listing(root)
    ops.call("orchestration.rerun_skip", calls = 3) {
      combine(pipe)
      pipe.runSpatialImpute(Seq(Month), Era5Pattern)
      pipe.runRecombine(Seq(Month))
    }
    ops.call("operators.sample") { pipe.runSample("aod", target, SampleFraction) }
    val aod = ops.call("ml.train") {
      pipe.runTrain(store, "aod", features, target, gate, hp, k = 2)
    }
    ops.call("ml.impute") { pipe.runImpute("aod", aod, target) }
    ops.call("operators.recombine_imputed") { pipe.runRecombineImputed(Seq(Month), Seq("aod")) }
    ops.call("operators.full_sample") {
      pipe.runFullModelSample(s"${target}__imputed", SampleFraction, Seq("aod"))
    }
    val full = ops.call("ml.full_train") {
      pipe.runTrainFull(store, "full", features, s"${target}__imputed", gate, hp, k = 2)
    }
    ops.call("ml.final_predict") { pipe.runFinalPredict(full, "pm25") }
    ops.call("raster.outputs") { pipe.runOutputs(Seq(Month), "pm25__predicted", s"$root/raster") }
    r2 = Seq("ml.train" -> aod.cv.meanR2, "ml.full_train" -> full.cv.meanR2)
  }

  def check(root: String): Checked = {
    val storage = new StageStorage(spark, root)
    val bad = mutable.ArrayBuffer.empty[(String, String)]
    monthStages.foreach { case (ref, op) =>
      val got = storage.rowCount(ref, Month)
      if (got != rows) bad += op -> s"${ref.name}: $got rows, want $rows"
    }
    k1Failure(storage).foreach(bad += "spatial.impute" -> _)
    featureFailure(storage).foreach(bad += "features.generate" -> _)
    if (s01Listing(root) != beforeRerun)
      bad += "orchestration.rerun_skip" -> "re-run rewrote finished s01 stage output"
    r2.foreach { case (op, v) =>
      if (!(v >= MinCvR2 && v <= 1.0)) bad += op -> f"mean CV R² $v%.4f outside [$MinCvR2, 1]"
    }
    rasterFailure(root).foreach(bad += "raster.outputs" -> _)
    Checked(bad.toSeq, Map.empty)
  }

  private def day(date: String): Int = date.takeRight(2).toInt

  /** No ERA5 nulls after K1, and every missing cell with a valid cell on
    * each side along its row and along its column (so it lies inside the
    * hull) equals the generating plane to within 1e-6.
    */
  private def k1Failure(storage: StageStorage): Option[String] = {
    val imputed = storage.readMonth(Era5SpatiallyImputed, Month)
    val nulls = imputed.filter(era5Names.map(c => col(c).isNull).reduce(_ || _)).count()
    if (nulls > 0) return Some(s"$nulls rows with ERA5 nulls after K1")
    val missing = spark.read.parquet(s"$in/era5_land")
      .filter(col("temperature_2m").isNull).select("grid_id", "date")
    val filled = imputed.join(missing, Seq("grid_id", "date"))
      .select((col("grid_id") +: col("date") +: era5Names.map(col)): _*).collect()
    val miss = Array.ofDim[Boolean](Days, grid.n)
    filled.foreach(r => miss(day(r.getString(1)) - 1)(r.getLong(0).toInt) = true)
    def valid(d: Int, ix: Int, iy: Int): Boolean = {
      val id = iy * grid.nx + ix
      ix >= 0 && ix < grid.nx && iy >= 0 && id < grid.n && !miss(d)(id)
    }
    def inside(d: Int, id: Int): Boolean = {
      def ray(dx: Int, dy: Int): Boolean = {
        var (x, y) = (grid.ix(id) + dx, grid.iy(id) + dy)
        while (x >= 0 && x < grid.nx && y >= 0 && y < grid.ny && !valid(d, x, y)) {
          x += dx; y += dy
        }
        valid(d, x, y)
      }
      ray(1, 0) && ray(-1, 0) && ray(0, 1) && ray(0, -1)
    }
    val ps = planes(seed, Era5Cols)
    var worst = 0.0
    var checked = 0
    filled.foreach { r =>
      val id = r.getLong(0).toInt
      val d = day(r.getString(1))
      if (inside(d - 1, id)) {
        checked += 1
        ps.indices.foreach { k =>
          val want = ps(k).at(grid.ix(id), grid.iy(id), d)
          worst = math.max(worst, math.abs(r.getAs[Number](2 + k).doubleValue - want))
        }
      }
    }
    if (checked == 0) Some("no hull-interior missing cells to check")
    else if (worst > 1e-6) Some(f"interior fill off its plane by $worst%.3g (> 1e-6)")
    else None
  }

  /** Every generated column is present and no rolling mean is null. */
  private def featureFailure(storage: StageStorage): Option[String] = {
    val fg = storage.readMonth(GeneratedFeatures, Month)
    val base = featureConfig.baseColumns
    val rolling = base.flatMap(c => Seq(s"${c}__mean_r7d", s"${c}__mean_r365d"))
    val expected = rolling ++ base.flatMap(c => Seq(s"${c}__mean_year", s"${c}__mean_all")) ++
      Seq("day_of_year", "cos_day_of_year", "month_of_year", "monsoon_season",
        "era5_land__relative_humidity_computed")
    val absent = expected.filterNot(fg.columns.contains)
    if (absent.nonEmpty) return Some(s"missing feature columns ${absent.mkString(", ")}")
    val nulls = fg.select(rolling.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))): _*)
      .head().toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).sum
    if (nulls > 0) Some(s"$nulls null rolling means") else None
  }

  /** The `.nc` holds a (days, y, x) cube with one finite value per cell
    * per day, equal to `final_prediction` at sampled cells.
    */
  private def rasterFailure(root: String): Option[String] = {
    val nc = graft.raster.NetCdf.read(s"$root/raster/pm25.nc")
    val shape = Seq("time", "y", "x").map(nc.dim(_).length)
    if (shape != Seq(Days, grid.ny, grid.nx))
      return Some(s"raster shape $shape, want ${Seq(Days, grid.ny, grid.nx)}")
    val cube = nc.variable("pm25").data match {
      case graft.raster.NetCdf.Floats(a) => a
      case other => return Some(s"pm25 is ${other.getClass.getSimpleName}, want floats")
    }
    val plane = grid.ny * grid.nx
    val thin = (0 until Days).find(d =>
      (0 until plane).count(i => !cube(d * plane + i).isNaN) != grid.n)
    if (thin.nonEmpty) return Some(s"day ${thin.get + 1} lacks ${grid.n} finite cells")
    val sample = new StageStorage(spark, root).readMonth(FinalPrediction, Month)
      .filter(pmod(col("grid_id") * 7919, lit(997)) === 0)
      .select("grid_id", "date", "pm25__predicted").collect()
    val off = sample.count { r =>
      val id = r.getLong(0).toInt
      cube((day(r.getString(1)) - 1) * plane + grid.iy(id) * grid.nx + grid.ix(id)) !=
        r.getAs[Number](2).floatValue
    }
    if (sample.isEmpty) Some("no sampled cells")
    else if (off > 0) Some(s"$off of ${sample.length} sampled cells differ from final_prediction")
    else None
  }

  /** K1's three kernels, timed per (day, column) on this workload's own
    * days exactly as the program calls them, and the input-side counts
    * whose ratio bounds triangulation reuse.
    */
  def kernels(t: Tracer): Map[String, Double] = {
    val x = Array.tabulate(grid.n)(id => grid.ix(id) * Spacing)
    val y = Array.tabulate(grid.n)(id => grid.iy(id) * Spacing)
    val v = Array.fill(Days, Era5Cols, grid.n)(Double.NaN)
    spark.read.parquet(s"$in/era5_land").collect().foreach { r =>
      val id = r.getLong(0).toInt
      (0 until Era5Cols).foreach(k =>
        if (!r.isNullAt(2 + k)) v(day(r.getString(1)) - 1)(k)(id) = r.getDouble(2 + k))
    }
    val masks = mutable.HashSet.empty[Seq[Int]]
    var dayColumns = 0
    t.span("spatial.kernels") {
      for (d <- 0 until Days; k <- 0 until Era5Cols) {
        val vals = v(d)(k)
        val validIdx = (0 until grid.n).filter(i => !vals(i).isNaN).toArray
        val missingIdx = (0 until grid.n).filter(i => vals(i).isNaN).toArray
        dayColumns += 1
        masks += validIdx.toSeq
        val sx = validIdx.map(x)
        val sy = validIdx.map(y)
        val t0 = System.nanoTime()
        val tri = Delaunay.triangulate(sx, sy)
        val t1 = System.nanoTime()
        val outside = missingIdx.filter(i => tri.locate(x(i), y(i)).isEmpty)
        val t2 = System.nanoTime()
        if (outside.nonEmpty) {
          val kd = KdTree(sx, sy)
          outside.foreach(i => kd.nearest(x(i), y(i)))
        }
        val t3 = System.nanoTime()
        t.record("spatial.kernel.triangulate", t0, t1)
        t.record("spatial.kernel.locate", t1, t2)
        t.record("spatial.kernel.nearest", t2, t3)
      }
    }
    Map("spatial.day_columns" -> dayColumns.toDouble,
      "spatial.distinct_masks" -> masks.size.toDouble)
  }
}

object MonthE2e {
  /** An eighth of the production grid's 33,074 cells, in rows of 64
    * (production: rows of 182).
    */
  val Cells = 4134
  val PerRow = 64
  val Era5Cols = 3
  val Era5Pattern = "^era5_land__.*$"
  val SampleFraction = 0.05
  /** CV R² gate for both models: the target is a smooth function of the
    * features plus 1% noise, so anything below this is a broken fit.
    */
  val MinCvR2 = 0.5
}

/** Ad hoc MinHash-LSH over a corpus with planted near-duplicate clusters,
  * and a batch check of fresh docs against the same corpus at rest.
  */
final class DedupCorpus(spark: SparkSession, seed: Long) extends Workload {
  import DedupCorpus._
  def rows: Long = Docs + BatchDocs
  def iterations: Int = 2
  private val table = "perfbench_corpus"
  private var in = ""
  private def docs = spark.read.parquet(s"$in/corpus")
  private def batchDocs = spark.read.parquet(s"$in/batch")

  def prepare(dir: String): Unit = {
    corpus(spark, seed, Docs, Clusters).write.parquet(s"$dir/corpus")
    batch(spark, seed, BatchDocs, Planted, Clusters / Planted).write.parquet(s"$dir/batch")
    in = dir
    MinHashStorage.writeBucketed(docs, "doc_id", "text", table, s"$dir/at_rest",
      nBuckets = Buckets)
  }

  def run(root: String, ops: Ops): Unit = {
    ops.call("dedup.minhash_lsh") {
      Dedup.minhashLsh(docs, "doc_id", "text", threshold = Threshold)
        .write.parquet(s"$root/lsh_pairs")
    }
    ops.call("dedup.check_batch") {
      MinHashStorage.checkBatch(spark, table, batchDocs, threshold = Threshold)
        .write.parquet(s"$root/batch_hits")
    }
  }

  def check(root: String): Checked = {
    val bad = mutable.ArrayBuffer.empty[(String, String)]
    val text = docs.select(col("doc_id"), col("text"))
    def withExact(pairs: DataFrame, a: String, b: String, source: DataFrame) = pairs
      .join(source.select(col("doc_id").as(a), col("text").as("ta")), a)
      .join(text.select(col("doc_id").as(b), col("text").as("tb")), b)
      .withColumn("exact", exactJaccard(col("ta"), col("tb")))

    val pairs = spark.read.parquet(s"$root/lsh_pairs")
    val c = withExact(pairs, "id_a", "id_b", text).agg(
      count(lit(1)),
      sum(when(col("exact") < Threshold, 1L).otherwise(0L)),
      sum(when(abs(col("exact") - col("jaccard")) > 1e-6, 1L).otherwise(0L)),
      sum(when(col("id_b") < Clusters * 4 && floor(col("id_a") / 4) === floor(col("id_b") / 4),
        1L).otherwise(0L)),
      sum(when(col("id_b") === col("id_a") + 1 && col("id_a") % 4 === 0 &&
        col("id_b") < Clusters * 4 && col("jaccard") === 1.0, 1L).otherwise(0L))).head()
    val nPairs = c.getLong(0)
    val recall = Option(c.get(3)).fold(0L)(_.asInstanceOf[Long]) / (6.0 * Clusters)
    if (nPairs > 0 && c.getLong(1) > 0) bad += "dedup.minhash_lsh" -> s"${c.getLong(1)} pairs below $Threshold"
    if (nPairs > 0 && c.getLong(2) > 0) bad += "dedup.minhash_lsh" -> s"${c.getLong(2)} pairs report a wrong Jaccard"
    if (recall < MinRecall) bad += "dedup.minhash_lsh" -> f"planted-pair recall $recall%.4f < $MinRecall"
    if (nPairs > 0 && c.getLong(4) != Clusters)
      bad += "dedup.minhash_lsh" -> s"${c.getLong(4)} of $Clusters planted exact duplicates found"

    val hits = spark.read.parquet(s"$root/batch_hits")
    val h = withExact(hits, "batch_id", "id", batchDocs).agg(
      count(lit(1)),
      sum(when(col("exact") < Threshold, 1L).otherwise(0L)),
      sum(when(col("batch_id") < BatchIdBase + Planted &&
        floor(col("id") / 4) === (col("batch_id") - BatchIdBase) * (Clusters / Planted),
        1L).otherwise(0L))).head()
    val nHits = h.getLong(0)
    val hitRecall = Option(h.get(2)).fold(0L)(_.asInstanceOf[Long]) / (4.0 * Planted)
    if (nHits > 0 && h.getLong(1) > 0) bad += "dedup.check_batch" -> s"${h.getLong(1)} hits below $Threshold"
    if (hitRecall < MinRecall) bad += "dedup.check_batch" -> f"planted-hit recall $hitRecall%.4f < $MinRecall"
    Checked(bad.toSeq, Map("dedup.pairs" -> nPairs.toDouble, "dedup.recall" -> recall,
      "dedup.batch_hits" -> nHits.toDouble))
  }

  def kernels(t: Tracer): Map[String, Double] = {
    val sh = t.span("dedup.kernel.shingle") {
      docs.select(Dedup.wordShingles(col("text"), 3).as("sh")).localCheckpoint()
    }
    t.span("dedup.kernel.signature") {
      sh.select(max(element_at(Dedup.minhashSignature(col("sh"), 128), 1))).head()
    }
    Map.empty
  }
}

object DedupCorpus {
  val Docs = 30000L
  /** 4-doc planted clusters: a fifth of the corpus. */
  val Clusters = Docs / 20
  val BatchDocs = Docs / 10
  /** Batch docs that near-duplicate a corpus cluster. */
  val Planted = Docs / 100
  val Threshold = 0.8
  /** Buckets of the at-rest corpus: a few per core suits 30,000 docs. */
  val Buckets = 8
  /** Planted pairs have Jaccard ≥ 37/39, where 128 hashes in 32 bands
    * miss a pair with probability below 1e-20.
    */
  val MinRecall = 0.99

  private def shingles(s: String): Set[String] =
    s.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Exact word 3-shingle Jaccard, written independently of the program's. */
  val exactJaccard = udf { (a: String, b: String) =>
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }
}
