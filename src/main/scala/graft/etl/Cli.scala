package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CLI twins of the reference's two preprocessing entry points
  * (SURVEY.md §3): `join_datasets.py` and `post_join_processing.py` —
  * thin mains over [[Datasets.joinDatasets]] / [[Datasets.postJoin]],
  * completing the three-script lifecycle next to `graft.RunPipeline`
  * (the `python -m sf_datalake` twin).
  *
  * Both parse the reference's `--key value` argument style, read the
  * same formats (ORC for the prepared datasets, headered CSV with the
  * reference's explicit schemas for the sirene/effectif/perimeter
  * files — join_datasets.py:117-152), and write ORC by default.
  */
private[graft] object CliArgs {
  def parse(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--") && a.length > 2,
        s"expected --key value pairs, got '$a'")
      require(i + 1 < args.length, s"missing value for '$a'")
      out(a.drop(2)) = args(i + 1)
      i += 2
    }
    out.toMap
  }

  /** The session every production CLI runs on (the two twins below,
    * `graft.RunPipeline` and `graft.Optimize`): master and shuffle
    * partitions from the environment, UTC session time zone. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def write(df: DataFrame, path: String, format: String): Unit =
    format match {
      case "orc" => graft.sources.IO.writeOrc(df, path)
      case "parquet" => df.write.mode("overwrite").parquet(path)
      case "csv" => graft.sources.IO.writeCsv(df, path)
      case f => throw new IllegalArgumentException(s"unknown format '$f'")
    }
}

/** Twin of `join_datasets.py` (reference join_datasets.py:104-212):
  * assemble the monthly company panel from the prepared source
  * datasets.
  *
  * Usage:
  *   sbt "runMain graft.etl.JoinDatasets
  *     --urssaf_cotisation p.orc --urssaf_debit p.orc --ap p.orc
  *     --dgfip_yearly p.orc --judgments p.orc --altares p.orc
  *     --sirene_categories p.csv --sirene_dates p.csv --effectif p.csv
  *     [--perimeter p.csv] --output_path out [--output_format orc]"
  */
object JoinDatasets {

  // CSV schemas verbatim from join_datasets.py:117-140
  val sireneDatesSchema: StructType = StructType(Seq(
    StructField("siren", StringType, nullable = false),
    StructField("date_fin", DateType, nullable = true),
    StructField("date_début", DateType, nullable = true)))
  val sireneCategoriesSchema: StructType = StructType(Seq(
    StructField("siren", StringType, nullable = false),
    StructField("siret", StringType, nullable = true),
    StructField("code_commune", StringType, nullable = true),
    StructField("code_naf", StringType, nullable = true),
    StructField("région", StringType, nullable = true),
    StructField("catégorie_juridique", StringType, nullable = true)))
  val effectifSchema: StructType = StructType(Seq(
    StructField("siren", StringType, nullable = false),
    StructField("période", DateType, nullable = false),
    StructField("effectif", IntegerType, nullable = true)))
  val perimeterSchema: StructType = StructType(Seq(
    StructField("siren", StringType, nullable = false)))

  def main(args: Array[String]): Unit = {
    val spark = CliArgs.session()
    try run(spark, CliArgs.parse(args))
    finally spark.stop()
  }

  /** The CLI body, callable with an existing session (spec-gated). */
  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    def orc(key: String): DataFrame =
      graft.sources.IO.readOrc(spark, opts(key))
    def csv(key: String, schema: StructType): DataFrame =
      spark.read.option("header", "true").schema(schema).csv(opts(key))

    val out = Datasets.joinDatasets(
      cotisation = orc("urssaf_cotisation"),
      debit = orc("urssaf_debit"),
      ap = orc("ap"),
      effectif = csv("effectif", effectifSchema),
      judgments = orc("judgments"),
      altares = orc("altares"),
      sireneCategories = csv("sirene_categories", sireneCategoriesSchema),
      sireneDates = csv("sirene_dates", sireneDatesSchema),
      dgfipYearly = orc("dgfip_yearly"),
      perimeter = opts.get("perimeter").map(csv2 =>
        spark.read.option("header", "true").schema(perimeterSchema).csv(csv2)))

    CliArgs.write(out, opts("output_path"),
      opts.getOrElse("output_format", "orc"))
    println(s"JOIN_DATASETS done: ${opts("output_path")}")
  }
}

/** Twin of `post_join_processing.py` (reference
  * post_join_processing.py:40-179): lowercase columns, target label,
  * debt ratios, configured fills/imputation, configured lag/diff/mean
  * time aggregates with bfill + default-fill of the new columns.
  *
  * Usage:
  *   sbt "runMain graft.etl.PostJoinProcessing --input panel.orc
  *     --configuration cfg.json --output out [--output_format orc]"
  */
object PostJoinProcessing {
  def main(args: Array[String]): Unit = {
    val spark = CliArgs.session()
    try run(spark, CliArgs.parse(args))
    finally spark.stop()
  }

  /** The CLI body, callable with an existing session (spec-gated). */
  def run(spark: SparkSession, opts: Map[String, String]): Unit = {
    val cfg = graft.ml.PipelineConfig.fromFile(opts("configuration"))
    val input = graft.sources.IO.readOrc(spark, opts("input"))
    val out = Datasets.postJoin(input, cfg)
    CliArgs.write(out, opts("output"),
      opts.getOrElse("output_format", "orc"))
    println(s"POST_JOIN_PROCESSING done: ${opts("output")}")
  }
}
