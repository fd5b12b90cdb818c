package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.functions.Lexicons
import graft.operators.{AnswerClassifier, DemoAnswerClassifier}

/** End-to-end CLI flow: CSV in → wide/summary parquet out, memo-cache
  * persisted and effective on the second run. */
class SurveyMainSpec extends SparkSpec {
  import spark.implicits._

  private type Resp = (String, String, String, String, String)

  private def writeCsv(dir: String, rows: Seq[Resp]): String = {
    rows.toDF("Email", "Name", "Products", "Q1 Opinion", "Q2 Service")
      .write.mode("overwrite").option("header", "true").csv(dir)
    dir
  }

  private def rmTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** Demo labels; counts every key it is asked to classify. */
  private final class CountingClassifier(calls: LongAccumulator) extends AnswerClassifier {
    override def classify(keys: DataFrame): DataFrame = {
      val acc = calls
      DemoAnswerClassifier.classify(keys.as[(String, String, String)]
        .map { k => acc.add(1); k }.toDF("industry", "question", "answer"))
    }
  }

  /** A fresh random sentiment on every invocation, as an LLM at non-zero
    * temperature may give: a sink that re-ran it would disagree. */
  private object FickleClassifier extends AnswerClassifier {
    override def classify(keys: DataFrame): DataFrame =
      keys.select(col("industry"), col("question"), col("answer"),
        element_at(array(Lexicons.SentimentOrder.map(lit): _*),
          (rand() * 4).cast("int") + 1).as("sentiment"),
        lit("General").as("category"))
  }

  private val twoRows: Seq[Resp] = Seq(
    ("a@x.com", "Ana", "Alpha,Beta", "I love it", "too expensive"),
    ("b@x.com", "Bo", "Alpha", "n/a", "great support team"))

  test("run: outputs written, cache persisted, second run served from cache") {
    val base = "target/tmp/survey_main"
    val csvDir = s"$base/in"
    Seq(
      ("a@x.com", "Ana", "Alpha,Beta", "I love it", "too expensive"),
      ("b@x.com", "Bo", "Alpha", "n/a", "great support team"),
    ).toDF("Email", "Name", "Products", "Q1 Opinion", "Q2 Service")
      .write.mode("overwrite").option("header", "true").csv(csvDir)

    val out = s"$base/out"; val cache = s"$base/cache.parquet"
    val (wide, summary) = SurveyMain.run(spark, csvDir, "retail", out, cache)
    assert(wide.count() == 3) // 2 + 1 product fan-out
    assert(summary.columns.toSeq ==
      Seq("Product", "Question", "Positive", "Neutral", "Negative", "Mixed"))

    // --xlsx flag renders the O18 report alongside the parquet sink
    val report = s"$base/report.xlsx"
    SurveyMain.run(spark, csvDir, "retail", out, cache, xlsxPath = Some(report))
    val sheets = XlsxRead.sheetNames(report)
    assert(sheets.contains("Summary") && sheets.exists(_.startsWith("Charts - ")))
    assert(XlsxRead.cells(report, sheets.indexOf("Summary") + 1)("A1") == "Product")

    val cached = spark.read.parquet(cache)
    // distinct (question, answer) pairs across 2 questions x 2 rows
    assert(cached.count() == 4)
    assert(cached.where(col("answer") === "I love it" && col("sentiment") === "Positive").count() == 1)

    // poison the cache for one key: a second run must serve the poisoned
    // value (proof the join, not the classifier, supplies hits)
    cached.withColumn("sentiment",
        when(col("answer") === "I love it", lit("Negative")).otherwise(col("sentiment")))
      .write.mode("overwrite").parquet(s"$base/cache2.parquet")
    val (wide2, _) = SurveyMain.run(spark, csvDir, "retail", out, s"$base/cache2.parquet")
    val r = wide2.where(col("Q1_Opinion_Answer") === "I love it").collect()
    assert(r.nonEmpty && r.forall(_.getAs[String]("Q1_Opinion_Sentiment") == "Negative"))
  }

  test("run classifies each distinct key once; a second run on the same cache classifies none") {
    val base = "target/tmp/survey_once"
    rmTree(base)
    val csvDir = writeCsv(s"$base/in", Seq(
      ("a@x.com", "Ana", "Alpha,Beta", "I love it", "too expensive"),
      ("b@x.com", "Bo", "Alpha", "I love it", "great support team"),
      ("c@x.com", "Cy", "Beta", "n/a", "too expensive")))
    val calls = spark.sparkContext.longAccumulator("survey_calls")
    val cache = s"$base/cache.parquet"
    def runOnce(): Unit = SurveyMain.run(spark, csvDir, "retail", s"$base/out", cache,
      xlsxPath = Some(s"$base/report.xlsx"), classifier = Some(new CountingClassifier(calls)))
    runOnce()
    // Q1 {I love it, n/a} + Q2 {too expensive, great support team}
    assert(calls.value == 4, "every sink must share one classification of the 4 distinct keys")
    assert(spark.read.parquet(cache).count() == 4)
    calls.reset()
    runOnce()
    assert(calls.value == 0, "a warm cache serves every key")
  }

  test("every sink sees the same labels, even from a classifier that never repeats itself") {
    val base = "target/tmp/survey_fickle"
    rmTree(base)
    val pool = Seq("I love it", "too expensive", "great support team", "n/a", "late", "fine")
    val csvDir = writeCsv(s"$base/in", (1 to 40).map(i =>
      (s"u$i@x.com", s"U$i", if (i % 3 == 0) "Alpha,Beta" else "Alpha",
        pool(i % pool.size), pool((i * 5) % pool.size))))
    val report = s"$base/report.xlsx"
    val (wide, summary) = SurveyMain.run(spark, csvDir, "retail", s"$base/out",
      s"$base/cache.parquet", xlsxPath = Some(report), classifier = Some(FickleClassifier))

    val bases = Seq("Q1_Opinion" -> "Q1 Opinion", "Q2_Service" -> "Q2 Service")
    val wideRows = wide.collect()
    // wide vs cache: each answer carries its cached label
    val cached = spark.read.parquet(s"$base/cache.parquet").collect()
      .map(r => (r.getAs[String]("question"), r.getAs[String]("answer")) -> r.getAs[String]("sentiment")).toMap
    for (r <- wideRows; (b, q) <- bases)
      assert(r.getAs[String](s"${b}_Sentiment") ==
        cached((q, r.getAs[String](s"${b}_Answer"))))
    // summary vs wide: counts per (product, question, sentiment)
    val fromWide = (for (r <- wideRows; (b, _) <- bases)
      yield (r.getAs[String]("Product"), b, r.getAs[String](s"${b}_Sentiment")))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val summaryRows = summary.orderBy("Product", "Question").collect()
    val fromSummary = (for (r <- summaryRows; s <- Lexicons.SentimentOrder
        if r.getAs[Long](s) > 0)
      yield (r.getAs[String]("Product"), r.getAs[String]("Question"), s) -> r.getAs[Long](s)).toMap
    assert(fromSummary == fromWide)
    // xlsx Summary sheet vs summary parquet, cell for cell
    val cells = XlsxRead.cells(report, XlsxRead.sheetNames(report).indexOf("Summary") + 1)
    summaryRows.zipWithIndex.foreach { case (r, i) =>
      val row = i + 2
      assert(cells(s"A$row") == r.getAs[String]("Product") && cells(s"B$row") == r.getAs[String]("Question"))
      Lexicons.SentimentOrder.zip("CDEF").foreach { case (s, c) =>
        assert(cells(s"$c$row") == r.getAs[Long](s).toString, s"xlsx $c$row vs summary $s")
      }
    }
  }

  test("a crash inside the cache swap loses no labels; the next run completes the cache") {
    val base = "target/tmp/survey_crash"
    rmTree(base)
    val csvDir = writeCsv(s"$base/in", twoRows)
    val cache = s"$base/cache.parquet"
    SurveyMain.run(spark, csvDir, "retail", s"$base/out", cache)
    val complete = spark.read.parquet(cache).collect()
    val schema = spark.read.parquet(cache).schema
    def labelled(sentiment: String): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(complete.toSeq.map(r =>
        org.apache.spark.sql.Row(r.getString(0), r.getString(1), r.getString(2), sentiment, r.getString(4)))),
      schema)
    def q1LoveSentiment(wide: DataFrame): Set[String] =
      wide.where(col("Q1_Opinion_Answer") === "I love it")
        .select("Q1_Opinion_Sentiment").as[String].collect().toSet

    // crash after the old cache was renamed aside, before the staged one
    // was renamed in: only <path>._prev and <path>._staged exist
    rmTree(cache)
    labelled("Mixed").write.parquet(cache + "._prev")
    labelled("Negative").limit(1).write.parquet(cache + "._staged")
    val (wide, _) = SurveyMain.run(spark, csvDir, "retail", s"$base/out", cache)
    assert(q1LoveSentiment(wide) == Set("Mixed"), "the run must serve the renamed-aside cache")
    assert(spark.read.parquet(cache).count() == complete.length)
    assert(spark.read.parquet(cache).where(col("sentiment") =!= "Mixed").isEmpty)
    assert(!new java.io.File(cache + "._prev").exists && !new java.io.File(cache + "._staged").exists)

    // crash after the swap, before _prev was dropped: <path> is the newer
    labelled("Negative").write.parquet(cache + "._prev")
    val (wide2, _) = SurveyMain.run(spark, csvDir, "retail", s"$base/out", cache)
    assert(q1LoveSentiment(wide2) == Set("Mixed"))
    assert(!new java.io.File(cache + "._prev").exists)
  }

  test("read-back keeps Product a string and analyzeWide's column order") {
    val base = "target/tmp/survey_products"
    rmTree(base)
    val csvDir = writeCsv(s"$base/in", Seq(
      ("a@x.com", "Ana", "007,2024", "I love it", "too expensive"),
      ("b@x.com", "Bo", "007", "n/a", "great support team")))
    val report = s"$base/report.xlsx"
    val (wide, summary) = SurveyMain.run(spark, csvDir, "retail", s"$base/out",
      s"$base/cache.parquet", xlsxPath = Some(report))
    assert(wide.columns.toSeq == Seq("ResponseID", "Product",
      "Q1_Opinion_Answer", "Q1_Opinion_Sentiment", "Q1_Opinion_Category",
      "Q2_Service_Answer", "Q2_Service_Sentiment", "Q2_Service_Category"))
    assert(wide.schema("Product").dataType == org.apache.spark.sql.types.StringType)
    assert(wide.select("Product").as[String].collect().sorted.toSeq == Seq("007", "007", "2024"))
    assert(summary.select("Product").as[String].collect().toSet == Set("007", "2024"))
    assert(Set("007", "2024").subsetOf(XlsxRead.sheetNames(report).toSet))
  }

  test("run summary: one JSON line of counts at zero extra Spark jobs") {
    val base = "target/tmp/survey_summary"
    rmTree(base)
    val csvDir = writeCsv(s"$base/in", twoRows)
    val cache = s"$base/cache.parquet"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    // a marker job, awaited on the listener bus: every job before it has
    // been delivered once the marker is
    def fence(tag: String): Unit = {
      spark.sparkContext.setJobGroup(tag, tag)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains(tag) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(tag), s"listener never saw $tag")
    }
    def jobsOf(tag: String, withSummary: Boolean, fresh: Boolean): (Int, String) = {
      if (fresh) rmTree(cache)
      val err = new java.io.ByteArrayOutputStream()
      fence(s"$tag-start")
      Console.withErr(new java.io.PrintStream(err, true)) {
        SurveyMain.run(spark, csvDir, "retail", s"$base/out", cache,
          xlsxPath = Some(s"$base/report.xlsx"), runSummary = withSummary)
      }
      fence(s"$tag-end")
      val seen = groups.toArray.toSeq
      (seen.indexOf(s"$tag-end") - seen.indexOf(s"$tag-start") - 1, err.toString.trim)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (bare, quiet) = jobsOf("bare", withSummary = false, fresh = true)
      val (observed, line) = jobsOf("observed", withSummary = true, fresh = true)
      assert(quiet.isEmpty)
      assert(observed == bare, s"the summary added ${observed - bare} jobs")
      assert(line == """{"rows_in":2,"wide_rows":3,"keys":4,"cache_hits":0,"classified":4}""")
      val (_, warm) = jobsOf("warm", withSummary = true, fresh = false)
      assert(warm == """{"rows_in":2,"wide_rows":3,"keys":4,"cache_hits":4,"classified":0}""")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("parseArgs handles the reference's flag shapes") {
    val m = SurveyMain.parseArgs(Array("--input", "a.csv", "--industry", "retail", "--max-chars", "600"))
    assert(m == Map("input" -> "a.csv", "industry" -> "retail", "max-chars" -> "600"))
  }
}
