package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._
import graft.operators.{AnswerClassifier, CacheJoinClassifier, DemoAnswerClassifier, LabelTable, SurveyPipeline}

/** The reference CLI, Spark-shaped (survey_analysis.py:452-496): same flags,
  * same dataflow, same cache semantics — a reference user points this at the
  * same CSV and gets the same wide/summary tables, written as partitioned
  * parquet instead of xlsx sheets (§7.4: the engine contract is DataFrames;
  * xlsx is presentation).
  *
  *   runMain graft.SurveyMain --input survey.csv --industry retail
  *     [--output analysis_output] [--cache .analysis_cache.parquet]
  *     [--xlsx report.xlsx] [--vader-lexicon vader_lexicon.txt]
  *
  * `--xlsx` additionally renders the reference's Excel report (O18 — data
  * sheets per product, Summary, chart helper sheets) via the OOXML sink;
  * `--vader-lexicon` switches demo sentiment to the ported VADER scorer
  * (the branch that produced the reference's shipped artifacts).
  *
  * Cache: a parquet table (industry, question, answer, sentiment, category)
  * probed via the anti-join rewrite of the reference's memo dict. The run's
  * distinct keys are classified once and written ahead to a staged sibling
  * of the cache before any output (one flush per run replaces the
  * reference's every-200 mid-run flushes); the wide, summary and xlsx
  * outputs all read that one staged table, so they see the same labels.
  * After the outputs, an atomic swap makes the staged table the cache: the
  * old one is renamed aside and dropped only once the new one is in place.
  */
object SurveyMain {

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val input = opts.getOrElse("input", sys.error("--input is required"))
    val industry = opts.getOrElse("industry", sys.error("--industry is required"))
    val output = opts.getOrElse("output", "analysis_output")
    val cachePath = opts.getOrElse("cache", ".analysis_cache.parquet")
    val xlsx = opts.get("xlsx")
    val vaderLex = opts.get("vader-lexicon")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-survey")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, input, industry, output, cachePath, xlsx, vaderLex)
    spark.stop()
  }

  /** Programmatic entry (also the test surface). Returns (wide, summary),
    * both read back from the written parquet. `classifier` replaces the
    * demo (or VADER) classifier that labels cache misses; `runSummary`
    * prints the run's counts as one JSON line to stderr. */
  def run(spark: SparkSession, input: String, industry: String,
      output: String, cachePath: String,
      xlsxPath: Option[String] = None,
      vaderLexicon: Option[String] = None,
      classifier: Option[AnswerClassifier] = None,
      runSummary: Boolean = true): (DataFrame, DataFrame) = {
    val df = SurveyPipeline.readSurveyCsv(spark, input)
    val qcols = SurveyPipeline.questionColumns(df)

    // O4 diagnostic: sample answer per question (the reference's language
    // probe prints; :241-249)
    SurveyPipeline.sampleAnswers(df, qcols).foreach { case (q, s) =>
      System.err.println(s"[info] sample for '$q': ${s.getOrElse("<none>")}")
    }

    // run counts, observed on the two writes that see every row: no extra job
    val obs = Seq("rows_in", "wide_rows", "keys", "classified")
      .map(n => n -> Option.when(runSummary)(Observation(n))).toMap
    def counted(d: DataFrame, name: String): DataFrame =
      obs(name).fold(d)(o => d.observe(o, count(lit(1)).as("n")))

    val onMiss = classifier.getOrElse(vaderLexicon match {
      case Some(path) => new graft.operators.VaderDemoClassifier(
        graft.functions.Vader.loadLexicon(path))
      case None => DemoAnswerClassifier
    })
    val clf = new CacheJoinClassifier(loadCache(spark, cachePath), new AnswerClassifier {
      override def classify(keys: DataFrame): DataFrame = onMiss.classify(counted(keys, "classified"))
    })

    // write-ahead: every distinct key of the run is classified once (cache
    // hits ∪ fresh labels) and staged before any output is written; the
    // staged table, read back, is the one label table every sink joins
    val keys = SurveyPipeline.answerKeys(df, industry, qcols)
    val labels = writeCacheStaged(spark, counted(clf.classify(keys), "keys"), cachePath)
    val wide = SurveyPipeline.analyzeWide(counted(df, "rows_in"), industry, new LabelTable(labels))
    val (wideOut, summaryOut) = SurveyPipeline.writeReport(counted(wide, "wide_rows"), output)
    xlsxPath.foreach(p => SurveyPipeline.writeExcelReport(wideOut, p))
    writeCacheCommit(spark, cachePath)

    if (runSummary) {
      // observations arrive on the asynchronous listener bus; a missing one
      // prints as null rather than stalling the run
      def n(name: String): Option[Long] = obs(name).flatMap(o =>
        scala.util.Try(Await.result(o.future, 30.seconds).getLong(0)).toOption)
      val hits = for (k <- n("keys"); c <- n("classified")) yield k - c
      Console.err.println(Seq("rows_in" -> n("rows_in"), "wide_rows" -> n("wide_rows"),
          "keys" -> n("keys"), "cache_hits" -> hits, "classified" -> n("classified"))
        .map { case (k, v) => s""""$k":${v.getOrElse("null")}""" }.mkString("{", ",", "}"))
    }
    (wideOut, summaryOut)
  }

  /** The cache at `path`; when it is missing but `<path>._prev` exists — a
    * crash inside [[writeCacheCommit]] — the previous cache. */
  def loadCache(spark: SparkSession, path: String): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(path, path + "._prev").find(p => fs.exists(new Path(p))) match {
      case Some(p) => spark.read.parquet(p)
      case None => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "industry string, question string, answer string, sentiment string, category string"))
    }
  }

  /** Write-ahead: the run's labels go to `<path>._staged` (a sibling, since
    * overwriting an input path mid-lineage is undefined) and are read back
    * from there. */
  private def writeCacheStaged(spark: SparkSession, labels: DataFrame, path: String): DataFrame = {
    val staged = path + "._staged"
    labels.write.mode("overwrite").parquet(staged)
    spark.read.schema(labels.schema).parquet(staged)
  }

  /** Swaps the staged cache in. The old cache is renamed aside to
    * `<path>._prev` and deleted only once the staged one holds `<path>`, so
    * a crash between any two steps leaves a complete cache for
    * [[loadCache]]. A `<path>` beside a `_prev` is the newer of the two. */
  private def writeCacheCommit(spark: SparkSession, path: String): Unit = {
    val p = new Path(path); val staged = new Path(path + "._staged"); val prev = new Path(path + "._prev")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot rename $from to $to")
    if (fs.exists(p)) { fs.delete(prev, true); rename(p, prev) }
    rename(staged, p)
    fs.delete(prev, true)
  }

  /** --flag value pairs; "--max-chars 600" style (flag names as in the
    * reference's argparse, :455-461). */
  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
}
