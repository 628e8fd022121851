package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import pageplus.data.PagesFromDocuments
import pageplus.model.PageDoc

/** Seeded inputs. The corpus workloads sample source documents from the
  * sf0.1 `documents` table and lift them into pages with the program's own
  * generators; the query workload copies the sf0.01 tables. The program only
  * ever reads the parquet written here. */
object Corpus {
  private val TestData = s"${sys.props("user.home")}/testdata"
  val SourceDir = s"$TestData/sf0.1"
  val QueryDir = s"$TestData/sf0.01"

  /** Input sizes. Full sizes keep one warm pass under a second on 4 cores,
    * so a run's fixed costs (JVM start, JIT warm-up) stay within its time
    * budget; smoke sizes exist for the benchmark's own tests. 32 files of
    * similar size pack two to a split under the program's 8m
    * `maxPartitionBytes` and Spark's 4 MB open cost: 16 tasks, whole waves
    * on 1 to 16 cores, so no pass ends on one straggling task. */
  final case class Size(pages: Int, files: Int)
  def size(workload: String, smoke: Boolean): Size = (workload, smoke) match {
    case ("extract_pagexml", false) => Size(6000, 32)
    case ("repair_pagexml", false) => Size(400, 32)
    case ("html_main", false) => Size(8000, 32)
    case (_, _) => Size(400, 4)
  }

  final case class Source(texts: Array[String], langs: Array[String])

  def sources(spark: SparkSession): Source = {
    val rows = spark.read.parquet(s"$SourceDir/documents.parquet")
      .select("doc_id", "text", "lang").collect()
      .filter(r => !r.isNullAt(1) && r.getString(1).nonEmpty)
      .sortBy(_.getLong(0))
    Source(rows.map(_.getString(1)), rows.map(_.getString(2)))
  }

  private def rng(workload: String, seed: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong)

  /** Source documents per page. Every corpus workload but `extract_pagexml`
    * has a narrow size range; `extract_pagexml` has a heavy tail: 0.5% of its
    * pages concatenate 200 to 3000 documents (bounded Pareto, alpha 1). The
    * big pages take the midpoints of equal-probability strata of that
    * distribution, so every seed has the same tail and the same largest
    * pages, and the seed picks which pages are big and what they hold. The
    * largest pages bound the slowest task of a pass; drawn at random within
    * the top strata (2,000 to 3,000 documents for the largest), they made
    * the pass time depend on the seed. */
  def docsPerPage(workload: String, pages: Int, r: SplittableRandom): Array[Int] = workload match {
    case "extract_pagexml" =>
      val sizes = Array.fill(pages)(1)
      val big = math.max(1, pages / 200)
      val (lo, hi) = (200.0, 3000.0)
      val draws = Array.tabulate(big) { j =>
        val u = (j + 0.5) / big
        math.round(lo / (1 - u * (1 - lo / hi))).toInt
      }
      val slots = Array.range(0, pages)
      for (i <- 0 until big) {
        val k = i + r.nextInt(pages - i)
        val t = slots(i); slots(i) = slots(k); slots(k) = t
        sizes(slots(i)) = draws(i)
      }
      sizes
    case "repair_pagexml" => Array.fill(pages)(1 + r.nextInt(2))
    case _ => Array.fill(pages)(1)
  }

  /** (page_id, text, lang) rows of one corpus: page i joins its sampled
    * source texts with a space and takes the first one's language. */
  def plan(workload: String, seed: Long, pages: Int, src: Source): Seq[(Long, String, String)] = {
    val r = rng(workload, seed)
    val k = docsPerPage(workload, pages, r)
    (0 until pages).map { i =>
      val picks = Array.fill(k(i))(r.nextInt(src.texts.length))
      (i.toLong, picks.map(src.texts(_)).mkString(" "), src.langs(picks(0)))
    }
  }

  def build(workload: String): (Long, String) => PageDoc = workload match {
    case "repair_pagexml" => PagesFromDocuments.messyDoc
    case _ => PagesFromDocuments.cleanDoc
  }

  /** Writes the corpus for `workload` and `seed` to `dir`; returns its row count. */
  def write(spark: SparkSession, workload: String, seed: Long, smoke: Boolean, dir: String): Long = {
    import spark.implicits._
    if (workload == "query_iterative") {
      val out = new File(dir)
      out.mkdirs()
      new File(QueryDir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName).foreach { f =>
        Files.copy(f.toPath, Paths.get(dir, f.getName), StandardCopyOption.REPLACE_EXISTING)
      }
      spark.read.parquet(s"$dir/documents.parquet").count()
    } else {
      val sz = size(workload, smoke)
      val rows = plan(workload, seed, sz.pages, sources(spark))
      val docs = spark.sparkContext.parallelize(rows, sz.files).toDF("doc_id", "text", "lang")
      val pages = workload match {
        case "html_main" => graft.webtext.WebText.htmlPages(docs)
        case w => PagesFromDocuments.liftDf(docs)(build(w))
      }
      pages.write.parquet(dir)
      rows.size.toLong
    }
  }

  /** SHA-256 over the data pages of the parquet files in part order
    * (query_iterative also hashes its seeded query order, which is part of
    * its input). The footer is left out: the writer lists each column's
    * encodings in a hash-set order that differs between JVMs. */
  def hash(dir: String, extra: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files2.files(dir).filter(_.getName.endsWith(".parquet")).foreach { f =>
      // part files carry a per-write job id in their name; the part index and
      // the bytes are what must repeat
      md.update(f.getName.split('-').take(2).mkString("-").getBytes("UTF-8"))
      val b = Files.readAllBytes(f.toPath)
      val footer = java.nio.ByteBuffer.wrap(b, b.length - 8, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      md.update(b, 0, b.length - 8 - footer)
    }
    md.update(extra.getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Seeded order of the query workload's queries. */
  def queryOrder(names: Seq[String], seed: Long): Seq[String] = {
    val r = rng("query_iterative", seed)
    val a = names.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
