package graft

import org.apache.spark.sql.functions._
import graft.operators.{CacheJoinClassifier, DemoAnswerClassifier, SurveyPipeline}

/** The reference dataflow on an adversarial synthetic survey frame
  * (FIXTURES.md A1 characteristics: multi-product, filler variants, emoji,
  * ES/EN mix, duplicate answers, empty Products). */
class SurveyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def surveyDf = Seq(
    ("a@x.com", "Ana", "Alpha Jacket, Beta Sneakers", "I love it", "too expensive"),
    ("b@x.com", "Bo", "Alpha Jacket", "n/a", "llegó tarde el envío 🙂"),
    ("c@x.com", "Cy", "", "great quality but late", "—"),
    ("d@x.com", "Di", "Beta Sneakers,  , Alpha Jacket", "I love it", ""),
  ).toDF("Email", "Name", "Products", "Q1 Opinion", "Q2  Delivery")

  test("productsArray: trim, drop empties, Unspecified fallback") {
    val arr = surveyDf.select(SurveyPipeline.productsArray(col("Products")).as("p"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(arr == List(
      List("Alpha Jacket", "Beta Sneakers"),
      List("Alpha Jacket"),
      List("Unspecified"),
      List("Beta Sneakers", "Alpha Jacket")))
  }

  test("analyzeWide: fan-out, triplet schema, classification") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail", faithfulIds = true)
    assert(wide.count() == 2 + 1 + 1 + 2) // Σ max(1, #products)
    assert(wide.columns.toSeq == Seq("ResponseID", "Product",
      "Q1_Opinion_Answer", "Q1_Opinion_Sentiment", "Q1_Opinion_Category",
      "Q2_Delivery_Answer", "Q2_Delivery_Sentiment", "Q2_Delivery_Category"))
    val r1 = wide.where(col("ResponseID") === "1" && col("Product") === "Alpha Jacket").collect()(0)
    assert(r1.getAs[String]("Q1_Opinion_Sentiment") == "Positive")
    assert(r1.getAs[String]("Q2_Delivery_Sentiment") == "Negative") // "expensive" is a neg word
    assert(r1.getAs[String]("Q2_Delivery_Category") == "Price")
    val r2 = wide.where(col("ResponseID") === "2").collect()(0)
    assert(r2.getAs[String]("Q1_Opinion_Sentiment") == "Neutral")
    assert(r2.getAs[String]("Q1_Opinion_Category") == "No Feedback") // filler route
    assert(r2.getAs[String]("Q2_Delivery_Answer") == "llegó tarde el envío") // emoji stripped
    assert(r2.getAs[String]("Q2_Delivery_Sentiment") == "Negative") // tarde
    assert(r2.getAs[String]("Q2_Delivery_Category") == "Shipping")
    val r3 = wide.where(col("ResponseID") === "3").collect()(0)
    assert(r3.getAs[String]("Product") == "Unspecified")
    assert(r3.getAs[String]("Q1_Opinion_Sentiment") == "Mixed") // great + late
    assert(r3.getAs[String]("Q2_Delivery_Category") == "General") // em-dash is not filler
  }

  test("buildSummary: counts pivot with fixed sentiment columns") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail", faithfulIds = true)
    val sum = SurveyPipeline.buildSummary(wide)
    assert(sum.columns.toSeq == Seq("Product", "Question", "Positive", "Neutral", "Negative", "Mixed"))
    val alpha1 = sum.where(col("Product") === "Alpha Jacket" && col("Question") === "Q1_Opinion").collect()(0)
    // rows 1,2,4 hit Alpha Jacket: Positive (love), Neutral (filler), Positive (love)
    assert(alpha1.getAs[Long]("Positive") == 2)
    assert(alpha1.getAs[Long]("Neutral") == 1)
    assert(alpha1.getAs[Long]("Negative") == 0)
    // totals: summary counts = wide rows per (product, question)
    val total = sum.select((col("Positive") + col("Neutral") + col("Negative") + col("Mixed")).as("t"))
      .agg(org.apache.spark.sql.functions.sum("t")).collect()(0).getLong(0)
    assert(total == wide.count() * 2) // 2 questions
  }

  test("duplicate headers that sanitize identically collapse (last wins)") {
    val df = Seq(("e", "n", "P1", "love it", "hate it"))
      .toDF("Email", "Name", "Products", "Q A", "Q  A") // both sanitize to Q_A
    val wide = SurveyPipeline.analyzeWide(df, "retail", faithfulIds = true)
    assert(wide.columns.count(_ == "Q_A_Sentiment") == 1)
    assert(wide.collect()(0).getAs[String]("Q_A_Sentiment") == "Negative") // last column wins
  }

  test("cache-join classifier: hits bypass inner, misses classified") {
    val cache = Seq(("retail", "Q1 Opinion", "I love it", "Negative", "CachedCat"))
      .toDF("industry", "question", "answer", "sentiment", "category")
    val clf = new CacheJoinClassifier(cache, DemoAnswerClassifier)
    val keys = Seq(
      ("retail", "Q1 Opinion", "I love it"),   // hit → cached (Negative)
      ("retail", "Q1 Opinion", "terrible")).toDF("industry", "question", "answer")
    val out = clf.classify(keys).collect().map(r =>
      r.getAs[String]("answer") -> (r.getAs[String]("sentiment"), r.getAs[String]("category"))).toMap
    assert(out("I love it") == ("Negative", "CachedCat"))
    assert(out("terrible") == ("Negative", "General"))
  }

  test("readSurveyCsv: quoted multiline/comma fields round-trip; arity enforced") {
    val dir = "target/tmp/csv_roundtrip"
    val tricky = Seq(
      ("a@x.com", "Ana", "P1,P2", "line one\nline two", "has, commas"),
      ("b@x.com", "Bo", "P1", "quote \" inside", "ok"),
    ).toDF("Email", "Name", "Products", "Q1", "Q2")
    tricky.write.mode("overwrite").option("header", "true").option("escape", "\"").csv(dir)
    val back = SurveyPipeline.readSurveyCsv(spark, dir)
    assert(back.count() == 2)
    val vals = back.collect().map(r => r.getAs[String]("Q1")).toSet
    assert(vals.contains("line one\nline two") && vals.contains("quote \" inside"))
    val narrowDir = "target/tmp/csv_narrow"
    tricky.select("Email", "Name", "Products").write.mode("overwrite")
      .option("header", "true").csv(narrowDir)
    intercept[IllegalArgumentException] {
      SurveyPipeline.readSurveyCsv(spark, narrowDir)
    }
  }

  test("JSON-lines source round-trip with explicit schema") {
    val dir = "target/tmp/json_roundtrip"
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    val a = docs.select("doc_id", "text").orderBy("doc_id").collect()
    val b = back.select("doc_id", "text").orderBy("doc_id").collect()
    assert(a.sameElements(b))
  }

  test("sampleAnswers: first non-blank value per question; all-blank → None") {
    val df = Seq(
      ("a", "n", "P", null.asInstanceOf[String], "  "),
      ("b", "n", "P", "first real", " "),
      ("c", "n", "P", "second", " "),
    ).toDF("Email", "Name", "Products", "QA", "QB")
    val s = SurveyPipeline.sampleAnswers(df, Seq("QA", "QB"))
    assert(s("QA").contains("first real"))
    assert(s("QB").isEmpty)
  }

  test("columnWidths: clamp(0.9*maxLen, 12, 60) over header + probe rows") {
    val df = Seq(
      ("tiny", "x" * 100),
      ("ab", "y" * 200),
    ).toDF("narrow", "wide")
    val w = SurveyPipeline.columnWidths(df, Seq("narrow", "wide"))
    assert(w("narrow") == 12) // 0.9*6 → clamp up to 12
    assert(w("wide") == 60)   // 0.9*200 → clamp down to 60
  }

  test("writeReport: wide partitioned by Product, summary alongside, read-back intact") {
    val wide = SurveyPipeline.analyzeWide(surveyDf, "retail", faithfulIds = true)
    val summary = SurveyPipeline.buildSummary(wide)
    val out = "target/tmp/report"
    SurveyPipeline.writeReport(wide, out)
    val parts = new java.io.File(s"$out/wide").listFiles()
    assert(parts.exists(_.getName.startsWith("Product=")))
    val wideBack = spark.read.parquet(s"$out/wide")
    assert(wideBack.count() == wide.count())
    assert(spark.read.parquet(s"$out/summary").count() == summary.count())
  }

  test("empty-ish input: zero data rows still yields empty wide frame") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], surveyDf.schema)
    val wide = SurveyPipeline.analyzeWide(empty, "retail", faithfulIds = true)
    assert(wide.count() == 0)
  }
}
