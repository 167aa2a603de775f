package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{SharedBuilds, SparkEntry}
import graft.ml.GraftBoost
import graft.ml.GraftBoost.{BoostParams, GraftBoostModel}
import graft.operators._
import graft.sources.Tables

/** One timed call. `rows` is the input rows the call consumed, for the
  * throughput figures (0 where it has no meaning).
  */
final case class Op(layer: String, name: String, kind: String, rows: Long,
    run: () => Unit)

/** A workload: how to load its input, warm its kernels, what one pass
  * of the timed loop does, and what to write out for the checks.
  */
trait Workload {
  /** Input load, timed as part of set-up. */
  def load(spark: SparkSession): Unit
  /** Runs every kernel family the timed loop uses once, on small input. */
  def warmup(spark: SparkSession): Unit
  /** The ops of one pass, in the seeded order. */
  def pass(spark: SparkSession): Seq[Op]
  /** Writes each checked output under `out`; never timed. */
  def dump(spark: SparkSession, out: String): Unit
}

object Workload {
  /** Every query the engine registers, by the operator module that owns it. */
  val moduleOf: Map[String, String] = Seq(
    "Relational" -> Relational.all, "TpchShapes" -> TpchShapes.all,
    "Temporal" -> Temporal.all, "Analytics" -> Analytics.all,
    "Graph" -> Graph.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "TextAnalysis" -> TextAnalysis.all
  ).flatMap { case (m, qs) => qs.map(q => q.name -> s"operators.$m") }.toMap

  /** Runs a query and collects its rows, then drops any result pin the
    * query left, unless the frame is a live shared memo. The rows are
    * the output the checks compare.
    */
  def collect(spark: SparkSession, name: String, dir: String): (StructType, Array[Row]) = {
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect()
    if (!SharedBuilds.isShared(df)) df.unpersist(false)
    (df.schema, rows)
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)
}

/** One cold SharedBuilds build, then fixed query rows over the fixture
  * tables in seeded order. The warmup runs the same build and rows once
  * over the small tables.
  */
final class LlmPipeline(dir: String, warmDir: String, names: Seq[String], seed: Long)
    extends Workload {
  import Workload._

  names.foreach(n => require(moduleOf.contains(n), s"unknown query row $n"))

  /** The rows each query returned in the latest pass. */
  private val results = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]

  private val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession): Unit = {
    val t = Tables(spark, dir)
    t.registerAll()
    tableNames.foreach(n => spark.table(n).write.format("noop").mode("overwrite").save())
  }

  def warmup(spark: SparkSession): Unit = {
    SharedBuilds.buildAll(spark, warmDir)
    names.foreach(n => collect(spark, n, warmDir))
    SharedBuilds.clearAll()
  }

  def pass(spark: SparkSession): Seq[Op] =
    Op("SharedBuilds", "shared_build", "build", 0L, () => {
      SharedBuilds.clearAll()
      SharedBuilds.buildAll(spark, dir)
    }) +: shuffled(names, seed).map(n =>
      Op(moduleOf(n), n, "query", 0L, () => results(n) = collect(spark, n, dir)))

  def dump(spark: SparkSession, out: String): Unit =
    results.foreach { case (n, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
    }
}

/** The reference lifecycle (generate → train → predict) once per
  * training path over a generated frame. Each path trains on the rows
  * with `is_test = false` and scores the whole frame.
  */
final class BoostFitScore(frame: String, rounds: Int, warmRows: Long)
    extends Workload {
  import BoostFitScore._

  private var data: DataFrame = _
  private var train: DataFrame = _
  private var trainRows = 0L
  private var totalRows = 0L
  private val models = scala.collection.mutable.LinkedHashMap.empty[String, GraftBoostModel]

  def load(spark: SparkSession): Unit = {
    data = spark.read.parquet(frame).cache()
    totalRows = data.count()
    train = data.filter(!col("is_test"))
    trainRows = train.count()
  }

  private def fit(p: Path, df: DataFrame, numRound: Int): GraftBoostModel =
    GraftBoost.train(df, Features, p.label, p.params.copy(numRound = numRound),
      groupCol = p.group)

  private def score(p: Path, m: GraftBoostModel, df: DataFrame): Unit = {
    GraftBoost.predict(m, df).write.format("noop").mode("overwrite").save()
    if (p.proba)
      GraftBoost.predictProba(m, df).write.format("noop").mode("overwrite").save()
  }

  def warmup(spark: SparkSession): Unit = {
    val small = data.filter(col("id") < warmRows)
    Paths.foreach { p =>
      score(p, fit(p, small.filter(!col("is_test")), 1), small)
    }
  }

  def pass(spark: SparkSession): Seq[Op] = Paths.flatMap { p =>
    Seq(
      Op(p.layer, s"fit.${p.name}", "fit", trainRows * rounds,
        () => models(p.name) = fit(p, train, rounds)),
      Op("ml.score", s"score.${p.name}", "score",
        totalRows * (if (p.proba) 2 else 1),
        () => score(p, models(p.name), data)))
  }

  def dump(spark: SparkSession, out: String): Unit = {
    val test = data.filter(col("is_test"))
    Paths.foreach { p =>
      models.get(p.name).foreach { m =>
        val pred = GraftBoost.predict(m, test).select("id", "prediction")
        val scored =
          if (p.proba) pred.join(GraftBoost.predictProba(m, test).select("id", "proba"), "id")
          else pred
        scored.coalesce(1).write.mode("overwrite").parquet(s"$out/${p.name}")
      }
    }
  }
}

object BoostFitScore {
  val Features: Seq[String] = (0 until 8).map(i => s"f$i")

  final case class Path(name: String, layer: String, label: String,
      params: BoostParams, proba: Boolean, group: Option[String] = None)

  private val base = BoostParams(maxDepth = 3, eta = 0.3, missing = Some(Double.NaN),
    seed = 7L)

  /** One model per training path behind `GraftBoost.train`. */
  val Paths: Seq[Path] = Seq(
    Path("native_binary", "ml.SparseBoost", "label",
      base.copy(objective = "binary:logistic", missingStrategy = "native"), proba = true),
    Path("mllib_binary", "ml.mllib", "label",
      base.copy(objective = "binary:logistic"), proba = true),
    Path("mllib_regression", "ml.mllib", "y",
      base.copy(objective = "reg:squarederror"), proba = false),
    Path("softprob", "ml.SoftprobBoost", "cls",
      base.copy(objective = "multi:softprob", multiclassStrategy = "softprob"), proba = true),
    Path("quantile", "ml.QuantileBoost", "y",
      base.copy(objective = "reg:quantileerror", quantileAlpha = 0.5), proba = false),
    Path("poisson", "ml.PoissonBoost", "cnt",
      base.copy(objective = "count:poisson"), proba = false),
    Path("rank_pairwise", "ml.RankBoost", "rel",
      base.copy(objective = "rank:pairwise"), proba = false, group = Some("qid")),
    Path("gblinear", "ml.LinearBoost", "y",
      base.copy(objective = "reg:squarederror", booster = "gblinear"), proba = false)
  )
}
