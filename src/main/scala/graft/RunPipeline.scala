package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI twin of the reference's `python -m sf_datalake` run
  * (src/sf_datalake/__main__.py): configuration file + key=value CLI
  * overrides (highest precedence, mirroring the resolution order in
  * configuration/__init__.py:244-310) → panel load →
  * sample/target/encode/scale/train/score (`ml.Runner` mirrors
  * __main__.py's step order) → outputs under `<outDir>`:
  *
  *   predictions.parquet   scored prediction-date list
  *   test_scored.parquet   held-out scores for audit
  *   metrics.json          AUC/PR metrics + F-beta thresholds
  *   frontend.json/        per-company alert documents (the
  *                         reference's output_entries shape)
  *
  * Usage:
  *   sbt "runMain graft.RunPipeline <config.json> <panel.parquet> \
  *     <outDir> [key=value ...]"
  * List-valued overrides arrive comma-separated
  * (train_dates=2018-01-01,2019-05-31).
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <config.json> <panel.parquet> <outDir> [k=v ...]")
    val overrides: Map[String, Any] = args.drop(3).map { a =>
      a.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> (v: Any)
        case _ => sys.error(
          s"bad override '$a': expected key=value " +
            "(list values comma-separated, e.g. train_dates=a,b)")
      }
    }.toMap
    val spark = etl.CliArgs.session()
    try run(spark, args(0), args(1), args(2), overrides)
    finally spark.stop()
  }

  /** Coerce CLI string overrides by the CONFIG key's expected type
    * (Seq-typed keys split on comma; numeric/boolean keys parse; all
    * else stays a string) — so a scalar value containing a comma is
    * representable, and a typo'd numeric fails loudly. Values already
    * typed (spec-passed) pass through untouched. */
  private[graft] def coerce(cfg: graft.ml.PipelineConfig,
      overrides: Map[String, Any]): Map[String, Any] =
    overrides.map {
      case (k, v: String) => k -> (cfg.raw.get(k) match {
        case Some(_: Seq[_]) => v.split(",").toSeq
        case Some(_: Boolean) => v.toBoolean
        case Some(_: Int) | Some(_: Long) | Some(_: BigInt) => v.toLong
        case Some(_: Double) | Some(_: Float) => v.toDouble
        case _ => v
      })
      case kv => kv
    }

  /** The CLI body, callable with an existing session (spec-gated). */
  def run(spark: SparkSession, cfgPath: String, panelPath: String,
      outDir: String, overrides: Map[String, Any]): Unit = {
    import graft.ml.PipelineConfig.ConfigOps
    val cfg0 = graft.ml.PipelineConfig.fromFile(cfgPath)
    val cfg = cfg0.withOverrides(coerce(cfg0, overrides))
    val panel = spark.read.parquet(panelPath)
    val res = graft.ml.Runner.run(spark, panel, cfg)

    res.predictionScored.write.mode("overwrite")
      .parquet(s"$outDir/predictions.parquet")
    res.testScored.write.mode("overwrite")
      .parquet(s"$outDir/test_scored.parquet")

    val t05 = res.thresholds.getOrElse(0.5, 0.5)
    val t2 = res.thresholds.getOrElse(2.0, 0.5)
    graft.ml.Frontend.frontendDocuments(res.predictionScored,
        "siren", "probability_1", thresholdF05 = t05, thresholdF2 = t2)
      .write.mode("overwrite").json(s"$outDir/frontend.json")

    val metricsJson = (res.metrics ++ Map(
        "threshold_f05" -> t05, "threshold_f2" -> t2))
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "metrics.json"),
      metricsJson.getBytes("UTF-8"))
    println(s"RUN_PIPELINE done: " +
      s"predictions=${res.predictionScored.count()} metrics=$metricsJson")
  }
}
