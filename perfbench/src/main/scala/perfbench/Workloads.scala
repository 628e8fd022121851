package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

import graft.webtext.{HtmlDom, MainContent, WebText}
import pageplus.data.PagesFromDocuments
import pageplus.model.{PageDoc, Report}
import pageplus.ops.{Extend, Repair, Validate}
import pageplus.spark.Pipeline
import pageplus.text.FullText
import pageplus.xml.{PageXmlWriter, StaxPageParser}

/** Output row of the repair pass: the written PAGE-XML plus the report rows of
  * each step (the reference's modification CLI logs them per file). */
final case class RepairOut(url: String, xml: String, validate: Seq[Report], repair: Seq[Report],
                           extend: Seq[Report])

final case class RepairCheckRow(url: String, xml: String, validate: Seq[Report], repair: Seq[Report],
                                text: String)

/** A corpus workload: one pass reads the corpus parquet and writes its result
  * to parquet. `traced` is the benchmark's own `mapPartitions` composition of
  * the same public calls in the same order, with a span around each. */
trait CorpusWorkload {
  def run(spark: SparkSession, corpus: String, out: String): Unit
  def traced(spark: SparkSession, corpus: String, out: String, pass: Int,
             acc: CollectionAccumulator[TaskRecord]): Unit
  /** (rows checked, rows wrong) for the pass output in `out`. */
  def check(spark: SparkSession, corpus: String, out: DataFrame): (Long, Long)
  def corrupt(out: DataFrame): DataFrame
}

object Workloads {
  val All: Seq[String] = Seq("extract_pagexml", "repair_pagexml", "html_main", "query_iterative")

  val QueryNames: Seq[String] = Seq("host_rank_converged", "hits_scores", "neardup_clusters", "bpe_train",
    "cms_freq", "containment_dedup", "fulltext_columnar", "registered_domain")

  def corpus(name: String): CorpusWorkload = name match {
    case "extract_pagexml" => ExtractPageXml
    case "repair_pagexml" => RepairPageXml
    case "html_main" => HtmlMain
  }

  private def pages(spark: SparkSession, corpus: String): DataFrame = spark.read.parquet(corpus)

  /** Compares (url, value) rows with the expected ones. An order-insensitive
    * fingerprint settles the common case; on a mismatch a join counts the
    * wrong or missing rows. */
  def diff(expected: DataFrame, got: DataFrame): (Long, Long) = {
    val e = expected.toDF("url", "v")
    val g = got.toDF("url", "v")
    val (fe, fg) = (fingerprint(e), fingerprint(g))
    if (fe == fg) (fe._1, 0L)
    else {
      val wrong = e.join(g.withColumnRenamed("v", "g"), Seq("url"), "full_outer")
        .filter(not(col("v") <=> col("g"))).count()
      (math.max(fe._1, fg._1), wrong)
    }
  }

  /** Order-insensitive fingerprint of a whole output: row count and the sum
    * of every row's 64-bit hash over all columns. */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1))
  }

  private def markFirst(out: DataFrame, c: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
    out.withColumn(c, when(col("url") === PagesFromDocuments.url(0), f(col(c))).otherwise(col(c)))

  object ExtractPageXml extends CorpusWorkload {
    def run(spark: SparkSession, corpus: String, out: String): Unit =
      Pipeline.fulltext(pages(spark, corpus)).write.parquet(out)

    def traced(spark: SparkSession, corpus: String, out: String, pass: Int,
               acc: CollectionAccumulator[TaskRecord]): Unit = {
      import spark.implicits._
      pages(spark, corpus).select("url", "html").as[(String, Array[Byte])]
        .mapPartitions { it =>
          val t = TaskTrace.begin(pass, acc)
          t.output(t.pulled("scan", it).map { case (url, html) =>
            val doc = t.span("xml.parse_text")(StaxPageParser.parseTextOnly(url, html))
            t.count("xml.parse.bytes", html.length)
            if (!doc.parseOk) t.count("xml.parse.fail", 1)
            val text = t.span("text.extract")(FullText.extract(doc, dehyphenate = false, readingOrder = false))
            t.count("text.chars_out", text.length)
            Pipeline.Extracted(url, text)
          })
        }.write.parquet(out)
    }

    def check(spark: SparkSession, corpus: String, out: DataFrame): (Long, Long) = {
      import spark.implicits._
      val expected = pages(spark, corpus).select("url", "text").as[(String, String)]
        .map { case (u, t) => (u, PagesFromDocuments.lineTexts(t).mkString("\n")) }.toDF()
      diff(expected, out.select("url", "extracted_text"))
    }

    def corrupt(out: DataFrame): DataFrame = markFirst(out, "extracted_text", concat(_, lit("#")))
  }

  object HtmlMain extends CorpusWorkload {
    def run(spark: SparkSession, corpus: String, out: String): Unit =
      WebText.mainContent(pages(spark, corpus)).write.parquet(out)

    def traced(spark: SparkSession, corpus: String, out: String, pass: Int,
               acc: CollectionAccumulator[TaskRecord]): Unit = {
      import spark.implicits._
      pages(spark, corpus).select("url", "html").as[(String, Array[Byte])]
        .mapPartitions { it =>
          val t = TaskTrace.begin(pass, acc)
          t.output(t.pulled("scan", it).map { case (url, html) =>
            val root = t.span("webtext.dom")(HtmlDom.parse(new String(html, UTF_8)))
            val text = t.span("webtext.score")(
              MainContent.bestBlock(root).map(_.agg.paragraphs.mkString("\n")).getOrElse(""))
            t.count("webtext.chars_out", text.length)
            Pipeline.Extracted(url, text)
          })
        }.write.parquet(out)
    }

    /** The `html_main_content` oracle: the page text re-chunked into 24-word
      * paragraphs. */
    def check(spark: SparkSession, corpus: String, out: DataFrame): (Long, Long) = {
      import spark.implicits._
      val expected = pages(spark, corpus).select("url", "text").as[(String, String)]
        .map { case (u, t) => (u, t.split(" ", -1).grouped(24).map(_.mkString(" ")).mkString("\n")) }.toDF()
      diff(expected, out.select("url", "extracted_text"))
    }

    def corrupt(out: DataFrame): DataFrame = markFirst(out, "extracted_text", concat(_, lit("#")))
  }

  object RepairPageXml extends CorpusWorkload {
    private def step(d: PageDoc, write: PageDoc => String): RepairOut = {
      val v = Validate.page(d)
      val (repaired, rr) = Repair.page(d)
      val (extended, er) = Extend.extendLines(repaired)
      RepairOut(d.url, write(extended), v, rr, er)
    }

    def run(spark: SparkSession, corpus: String, out: String): Unit = {
      import spark.implicits._
      Pipeline.parse(pages(spark, corpus)).mapPartitions(_.map(step(_, PageXmlWriter.write)))
        .write.parquet(out)
    }

    def traced(spark: SparkSession, corpus: String, out: String, pass: Int,
               acc: CollectionAccumulator[TaskRecord]): Unit = {
      import spark.implicits._
      // two maps with an encoded PageDoc between them, as Pipeline.parse and
      // the step map are in the untraced pass
      val parsed = pages(spark, corpus).select("url", "html").as[(String, Array[Byte])]
        .mapPartitions { it =>
          val t = TaskTrace.begin(pass, acc)
          t.pulled("scan", it).map { case (url, html) =>
            val doc = t.span("xml.parse_geom")(StaxPageParser.parse(url, html))
            t.count("xml.parse.bytes", html.length)
            if (!doc.parseOk) t.count("xml.parse.fail", 1)
            doc
          }
        }
      parsed.mapPartitions { it =>
        val t = TaskTrace.get
        t.output(it.map { d =>
          val v = t.span("ops.validate")(Validate.page(d))
          val (repaired, rr) = t.span("ops.repair")(Repair.page(d))
          val (extended, er) = t.span("ops.extend")(Extend.extendLines(repaired))
          val xml = t.span("xml.write")(PageXmlWriter.write(extended))
          val before = d.textRegions.flatMap(_.lines)
          val after = repaired.textRegions.flatMap(_.lines)
          t.count("ops.validate.reports", v.size)
          t.count("ops.repair.reports", rr.size)
          t.count("ops.repair.lines", before.size)
          t.count("ops.repair.lines_changed", before.zip(after).count { case (a, b) =>
            a.coords != b.coords || a.baseline != b.baseline })
          t.count("xml.write.bytes", xml.getBytes(UTF_8).length)
          RepairOut(d.url, xml, v, rr, er)
        })
      }.write.parquet(out)
    }

    /** Per page: the validate and repair report rows equal the
      * `validate_messy` / `repair_messy` oracles (a function of page id mod 7;
      * both oracles place the rows on line r0l0), and re-parsing the written
      * XML returns the page text (plus the extra `rx` region's line that
      * messyDoc adds when id mod 7 is 6). */
    def check(spark: SparkSession, corpus: String, out: DataFrame): (Long, Long) = {
      import spark.implicits._
      val rows = out.select("url", "xml", "validate", "repair")
        .join(pages(spark, corpus).select("url", "text"), Seq("url"), "full_outer")
        .as[RepairCheckRow]
      val n = rows.count()
      val wrong = rows.filter(r => !RepairOracle.ok(r)).count()
      (n, wrong)
    }

    def corrupt(out: DataFrame): DataFrame =
      markFirst(out, "xml", regexp_replace(_, "</Unicode>", "#</Unicode>"))
  }
}

object RepairOracle {
  def expectedValidate(m: Long): Seq[String] = m match {
    case 3 => Seq("ring_not_valid", "baseline_pts_outside")
    case 4 => Seq("ring_not_valid", "baseline_outside")
    case _ => Nil
  }
  def expectedRepair(m: Long): Seq[String] = m match {
    case 3 => Seq("ring_not_valid", "hull_applied")
    case 4 => Seq("ring_not_valid", "repair_error")
    case _ => Nil
  }
  private def rules(rs: Seq[Report]): Seq[(String, String)] = rs.map(r => (r.elementId, r.rule)).sorted

  def ok(r: RepairCheckRow): Boolean =
    r.url != null && r.xml != null && r.text != null && {
      val m = r.url.stripPrefix("doc://").toLong % 7
      val text = (PagesFromDocuments.lineTexts(r.text) ++ (if (m == 6) Seq("xb xb") else Nil)).mkString("\n")
      rules(r.validate) == expectedValidate(m).map("r0l0" -> _).sorted &&
        rules(r.repair) == expectedRepair(m).map("r0l0" -> _).sorted &&
        FullText.extract(StaxPageParser.parseTextOnly(r.url, r.xml.getBytes(UTF_8))) == text
    }
}
