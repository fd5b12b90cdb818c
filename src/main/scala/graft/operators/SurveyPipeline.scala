package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.{Lexicons, TextExprs}

/** The reference's fixed ETL dataflow (survey_analysis.py:223-354), decomposed
  * into reusable, scale-out DataFrame operators:
  *
  *   CSV scan → validate → clean → filler-route → classify → explode(products)
  *   → wide triplets → unpivot → group-count → pivot summary
  *
  * Each stage is a `DataFrame => DataFrame` combinator so the harness can
  * exercise them independently and the flagship pipeline composes them.
  */
object SurveyPipeline {

  /** O1 — CSV scan (survey_analysis.py:463-469). multiLine + escape handle
    * quoted commas/newlines present in the sample corpus. */
  def readSurveyCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .csv(path)
    require(df.columns.length >= 4,
      s"Input needs >= 4 columns (Email, Name, Products, questions...); got ${df.columns.length}") // :471-473
    df
  }

  /** O3 — positional projection: question columns = all after the first 3
    * (survey_analysis.py:86-88). */
  def questionColumns(df: DataFrame): Seq[String] =
    if (df.columns.length > 3) df.columns.drop(3).toSeq else Seq.empty

  /** Question header → (base, header) preserving the reference's duplicate
    * semantics (survey_analysis.py:288,296): dict keyed by sanitized base —
    * first-occurrence position, last-occurrence value wins. */
  def questionBases(qcols: Seq[String]): Seq[(String, String)] = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, String]
    qcols.foreach(q => order.update(TextExprs.sanitizeBase(q), q))
    order.toSeq
  }

  /** O7 — the distinct classification keys (industry, question, cleaned
    * answer) of the question columns `qcols`, in one scan of `df`: each row
    * explodes into one (question, answer) struct per column. */
  def answerKeys(df: DataFrame, industry: String, qcols: Seq[String]): DataFrame =
    df.select(explode(array(qcols.map(q =>
        struct(lit(q).as("question"), TextExprs.cleanText(col(q)).as("answer"))): _*)).as("k"))
      .select(lit(industry).as("industry"), col("k.question"), col("k.answer"))
      .distinct()

  /** O4 — first non-null, non-blank sample answer per question column (the
    * reference's language-probe diagnostic, survey_analysis.py:241-249).
    * One aggregate pass over all columns — not a per-column job. */
  def sampleAnswers(df: DataFrame, qcols: Seq[String]): Map[String, Option[String]] =
    if (qcols.isEmpty) Map.empty
    else {
      val aggs = qcols.map(q =>
        first(when(trim(coalesce(col(q), lit(""))) =!= "", col(q)), ignoreNulls = true).as(q))
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      qcols.zipWithIndex.map { case (q, i) => q -> Option(row.getString(i)) }.toMap
    }

  /** O16 — presentation column widths: clamp(0.9 * maxLen, 12, 60) over the
    * header plus the first `probe` values (survey_analysis.py:360-365). */
  def columnWidths(df: DataFrame, cols: Seq[String], probe: Int = 1000): Map[String, Int] =
    if (cols.isEmpty) Map.empty
    else {
      val aggs = cols.map(c =>
        max(length(coalesce(col(c).cast(StringType), lit("")))).as(c))
      val row = df.limit(probe).agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.zipWithIndex.map { case (c, i) =>
        val maxLen = math.max(if (row.isNullAt(i)) 0 else row.getInt(i), c.length)
        c -> math.min(60, math.max(12, (0.9 * maxLen).toInt))
      }.toMap
    }

  /** O8 — comma-split multi-value product list; empty → ["Unspecified"]
    * (survey_analysis.py:276-277). Products truncated to 100 chars (:292). */
  def productsArray(c: Column): Column = {
    val arr = filter(transform(split(coalesce(c, lit("")), ","), t => trim(t)), t => t =!= "")
    when(size(arr) === 0, array(lit("Unspecified")))
      .otherwise(transform(arr, p => substring(p, 1, 100)))
  }

  /** O9 — ResponseID synthesis. Two modes, per SURVEY.md §7.5:
    *  - faithful: input-order `str(idx+1)` (survey_analysis.py:292) via
    *    zipWithIndex — breaks whole-stage pipelines, test-scale only;
    *  - scale: deterministic content-keyed surrogate (xxhash64 of the row) —
    *    distributes, stable under repartitioning.
    */
  def withResponseId(df: DataFrame, faithful: Boolean): DataFrame =
    if (faithful) {
      val schema = df.schema.add("ResponseID", StringType, nullable = false)
      val rdd = df.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1).toString) }
      df.sparkSession.createDataFrame(rdd, schema)
    } else {
      df.withColumn("ResponseID",
        xxhash64(concat_ws("", df.columns.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
          .cast("string"))
    }

  /** pandas `read_csv` default NA sentinels. The reference reads with
    * pandas and then `str()`-ifies each answer (survey_analysis.py:283), so
    * a missing or sentinel cell ("N/A", "NULL", …) becomes the LITERAL
    * string "nan" in its wide frame — the golden workbook carries those
    * cells. "nan" sits in FILLER_VALUES (:60), so classification is
    * unaffected; only the displayed answer text differs. */
  val PandasNaValues: Seq[String] = Seq(
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** Faithful-mode NA coercion: question cells that pandas would read as
    * NaN become the literal "nan" (see [[PandasNaValues]]). Scale path
    * keeps real nulls — this exists for byte-parity with the reference's
    * report artifacts. */
  def withPandasNa(df: DataFrame): DataFrame = {
    val qset = questionColumns(df).toSet
    df.select(df.columns.map { c =>
      if (qset(c))
        when(col(c).isNull || col(c).isin(PandasNaValues: _*), lit("nan"))
          .otherwise(col(c)).as(c)
      else col(c)
    }: _*)
  }

  /** O5+O6+O8+O10 — the wide analysis table (survey_analysis.py:275-317):
    * one row per (response × product); per question a
    * <Base>_Answer/_Sentiment/_Category triplet. Pure expression pipeline —
    * scan → explode is the only shuffle-free fan-out; classification stays in
    * codegen via the demo expression classifier (or is delegated to `clf`,
    * which computes on distinct keys and joins back — O7).
    */
  def analyzeWide(
      dfIn: DataFrame,
      industry: String,
      clf: AnswerClassifier = DemoAnswerClassifier,
      faithfulIds: Boolean = false,
      idCol: Option[Column] = None,
      pandasNa: Boolean = false,
  ): DataFrame = {
    require(dfIn.columns.length >= 4, "need >= 4 columns")
    val dfNa = if (pandasNa) withPandasNa(dfIn) else dfIn
    val productsCol = dfNa.columns(2)
    val qcols = questionColumns(dfNa)
    val bases = questionBases(qcols)

    // idCol: caller-supplied stable key (the scale path — no zipWithIndex,
    // no content hashing); otherwise synthesize per `faithfulIds`.
    val withId = idCol match {
      case Some(c) => dfNa.withColumn("ResponseID", c.cast(StringType))
      case None => withResponseId(dfNa, faithfulIds)
    }
    val exploded = withId.withColumn("Product", explode(productsArray(col(productsCol))))

    // Demo classifier inlines as expressions; other classifiers go through
    // the distinct-key join per question.
    val analyzed = clf match {
      case DemoAnswerClassifier =>
        // staged classify per question: keeps each regex scan evaluated once
        // (the single-Column classifyDemo tree would outgrow the JIT × #questions)
        bases.foldLeft(exploded) { case (d, (base, q)) =>
          TextExprs.withClassification(d, col(q), s"${base}__cls")
        }
      case other =>
        // one left join per question, by cleaned answer; each question's
        // keys come from the base frame, never from the frame already
        // joined for earlier questions (which would nest every step's plan
        // into the next)
        bases.foldLeft(exploded) { case (d, (base, q)) =>
          val labels = other.classify(answerKeys(dfNa, industry, Seq(q)))
            .where(col("industry") === industry && col("question") === q)
            .select(col("answer").as("_g_answer"),
              struct(col("sentiment"), col("category")).as(s"${base}__cls"))
          d.withColumn("_g_answer", TextExprs.cleanText(col(q)))
            .join(labels, Seq("_g_answer"), "left")
            .drop("_g_answer")
        }
    }

    val tripletCols = bases.flatMap { case (base, q) =>
      Seq(
        TextExprs.cleanText(col(q)).as(s"${base}_Answer"),
        col(s"${base}__cls").getField("sentiment").as(s"${base}_Sentiment"),
        col(s"${base}__cls").getField("category").as(s"${base}_Category"))
    }
    analyzed.select(col("ResponseID") +: col("Product") +: tripletCols: _*)
  }

  /** O11–O13 — summary: unpivot every *_Sentiment column to long form, count,
    * pivot to fixed sentiment columns (survey_analysis.py:323-354). Blank
    * sentiment coalesces to "Neutral" (:334); explicit pivot values give the
    * zero backfill and fixed order (:347-354) and skip the distinct-values
    * job. */
  def buildSummary(wide: DataFrame): DataFrame = {
    val sentCols = wide.columns.filter(_.endsWith("_Sentiment"))
    require(sentCols.nonEmpty, "wide frame has no *_Sentiment columns")
    val longDf = wide
      .unpivot(Array(col("Product")), sentCols.map(col), "QuestionCol", "SentimentRaw")
      .select(
        col("Product"),
        expr("substring(QuestionCol, 1, length(QuestionCol) - 10)").as("Question"), // strip "_Sentiment"
        coalesce(nullif(trim(col("SentimentRaw")), lit("")), lit("Neutral")).as("Sentiment"))
    longDf
      .groupBy("Product", "Question")
      .pivot("Sentiment", Lexicons.SentimentOrder)
      .count()
      .na.fill(0, Lexicons.SentimentOrder)
  }

  /** Per-product top-k complaint themes — the one reference README feature
    * described but never implemented in its code ("highlight top complaint
    * themes ... per product", README.md:26-27; survey_analysis.py stops at
    * the sentiment pivot). Composes the wide frame's `*_Sentiment` /
    * `*_Category` column pairs with the q07 window-top-k shape: unpivot
    * both traits side by side (struct-valued unpivot keeps each question's
    * sentiment and category in the same row), keep Negative answers, count
    * (Product, theme), rank within product by (n desc, theme asc — a total
    * order). The window partitions by Product, so no single-partition sort
    * exists at any product cardinality; the unpivot is a narrow per-row
    * explode. Output: (Product, theme, n_complaints, rank ≤ k). */
  def topThemes(wide: DataFrame, k: Int): DataFrame = {
    val questions = wide.columns.filter(_.endsWith("_Sentiment"))
      .map(_.stripSuffix("_Sentiment"))
    require(questions.nonEmpty, "wide frame has no *_Sentiment columns")
    val pairs = wide.select(col("Product"),
      explode(array(questions.map(q => struct(
        col(q + "_Sentiment").as("s"), col(q + "_Category").as("c"))): _*)).as("qc"))
    val counts = pairs
      .where(col("qc.s") === "Negative")
      .groupBy(col("Product"), col("qc.c").as("theme"))
      .agg(count(lit(1)).as("n_complaints"))
    counts
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("Product")
          .orderBy(col("n_complaints").desc, col("theme").asc)))
      .where(col("rank") <= k)
  }

  /** O14/O18 — data sink: the wide table partitioned by product (the
    * scalable analog of one-sheet-per-product), written once, and the
    * summary alongside — computed from the WRITTEN wide table, so it re-runs
    * none of the wide frame's lineage (classification included) and counts
    * exactly the labels the wide table holds. Returns (wide, summary) as
    * read back; the wide table with the schema and column order it was
    * written with, since partition discovery alone would type a product
    * named "007" as the integer 7 and move Product last. */
  def writeReport(wide: DataFrame, outDir: String): (DataFrame, DataFrame) = {
    val spark = wide.sparkSession
    wide.write.mode("overwrite").partitionBy("Product").parquet(s"$outDir/wide")
    val written = spark.read.schema(wide.schema).parquet(s"$outDir/wide")
      .select(wide.columns.map(c => col("`" + c.replace("`", "``") + "`")): _*)
    buildSummary(written).write.mode("overwrite").parquet(s"$outDir/summary")
    (written, spark.read.parquet(s"$outDir/summary"))
  }

  /** O18 — the reference's Excel report (survey_analysis.py:370-446), on the
    * zip+XML writer (sources.Xlsx): one data sheet per product (rows sorted
    * by ResponseID, `*_Answer` columns wrap/valign-top, widths =
    * clamp(0.9·maxLen, 12, 60) probed over the first 1000 rows — :360-365,
    * :385-394), a `Summary` sheet (widths clamped 10..40 — :396-402), and a
    * `Charts - <product>` sheet per product carrying each question's
    * sentiment helper block at the reference's exact cell positions
    * (:417-423) AND the pie charts themselves (DrawingML chart parts
    * referencing the helper blocks, category+percentage data labels,
    * reference grid placement — :427-444).
    *
    * Scale contract: a single .xlsx is a driver-side artifact by format
    * (one zip stream, 2^20-row sheet limit) — this collects, and REFUSES
    * frames beyond `maxRows` rather than silently truncating. Bulk data
    * belongs to the partitioned parquet sink ([[writeReport]]); this sink
    * renders the human report.
    */
  def writeExcelReport(wide: DataFrame, outPath: String,
      baseToDisplay: Map[String, String] = Map.empty,
      maxRows: Int = graft.sources.Xlsx.MaxRows - 1): Unit = {
    import graft.sources.Xlsx
    val header = wide.columns.toSeq
    require(header.take(2) == Seq("ResponseID", "Product"),
      "writeExcelReport expects an analyzeWide frame")
    val n = wide.count()
    require(n <= maxRows,
      s"xlsx report sink is for report-sized frames: $n rows > $maxRows " +
        "(use writeReport's partitioned parquet for bulk data)")
    // one driver-side collect, pre-sorted to the reference's sheet order:
    // groupby("Product") iterates sorted keys, each sheet sorted by
    // ResponseID (a STRING sort — faithful ids are str(idx+1))
    val rows = wide.orderBy("Product", "ResponseID").collect()
      .map(r => header.indices.map(r.get))
    val byProduct = rows.groupBy(_(1).asInstanceOf[String]).toSeq.sortBy(_._1)
    val wrapCols = header.indices.filter(i => header(i).endsWith("_Answer")).toSet

    val dataSheets = byProduct.map { case (prod, rs) =>
      Xlsx.Table(TextExprs.sanitizeSheetName(prod), header, rs.toSeq,
        widthsOf(header, rs.toSeq, 12, 60), wrapCols)
    }

    val summaryCols = Seq("Product", "Question") ++ Lexicons.SentimentOrder
    val summaryRows = buildSummary(wide).orderBy("Product", "Question").collect()
      .map(r => summaryCols.map(c => r.get(r.fieldIndex(c))))
    val summarySheet = Xlsx.Table("Summary", summaryCols, summaryRows.toSeq,
      widthsOf(summaryCols, summaryRows.toSeq, 10, 40))

    // chart helper blocks: labels at col 50, values at col 51, one 6-row
    // block per question starting at row 2 (0-based) — survey_analysis.py:417
    // — plus the pie itself (DrawingML part referencing the block), placed
    // on the reference's 2-charts-per-row grid (:439-444)
    val chartSheets = summaryRows.groupBy(_.head.asInstanceOf[String]).toSeq.sortBy(_._1)
      .map { case (prod, prodRows) =>
        val sheetName = TextExprs.sanitizeSheetName(s"Charts - $prod")
        val title = (0, 0, s"Sentiment Mix per Question — $prod", Xlsx.StyleBold)
        val sortedRows = prodRows.sortBy(_(1).asInstanceOf[String])
        val blocks = sortedRows.zipWithIndex.flatMap { case (row, i) =>
          val startR = 2 + i * 6
          Lexicons.SentimentOrder.zipWithIndex.flatMap { case (snt, k) =>
            Seq(
              (startR + k, 50, snt: Any, Xlsx.StyleDefault),
              (startR + k, 51, row(2 + k), Xlsx.StyleDefault))
          }
        }
        val pies = sortedRows.zipWithIndex.map { case (row, i) =>
          val base = row(1).asInstanceOf[String]
          val display = baseToDisplay.getOrElse(base, base)
          val values = Lexicons.SentimentOrder.indices.map(k =>
            row(2 + k).asInstanceOf[Long])
          Xlsx.Pie(
            title = s"$display – Sentiment Mix (n=${values.sum})",
            seriesName = s"$display – Sentiment Mix",
            sheetRef = sheetName,
            firstRow = 3 + i * 6,
            labels = Lexicons.SentimentOrder,
            values = values,
            fromCol = 1 + (i % 2) * 9,
            fromRow = 2 + (i / 2) * 20)
        }
        Xlsx.Sparse(sheetName, title +: blocks.toSeq, pies.toSeq)
      }

    Xlsx.write(outPath, (dataSheets :+ summarySheet) ++ chartSheets)
  }

  /** The reference's presentation width rule (survey_analysis.py:360-365):
    * clamp(0.9 · max(len(header), max value length over the first `probe`
    * rows), minW, maxW), computed on already-collected report rows. */
  private def widthsOf(header: Seq[String], rows: Seq[Seq[Any]],
      minW: Int, maxW: Int, probe: Int = 1000): Seq[Double] =
    header.indices.map { i =>
      val vals = rows.iterator.take(probe).map(r => String.valueOf(r(i)).length)
      val maxLen = (Iterator(header(i).length) ++ vals).max
      math.min(maxW, math.max(minW, (0.9 * maxLen).toInt)).toDouble
    }

  /** Full flagship flow: CSV → wide → summary. */
  def run(spark: SparkSession, csvPath: String, industry: String,
      clf: AnswerClassifier = DemoAnswerClassifier): (DataFrame, DataFrame) = {
    val df = readSurveyCsv(spark, csvPath)
    val wide = analyzeWide(df, industry, clf)
    (wide, buildSummary(wide))
  }
}
