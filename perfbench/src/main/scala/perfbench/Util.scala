package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** A metric as the report prints it: value, unit, how many samples the value
  * summarises, and why it is absent when the layer is not on this workload's
  * path. */
final case class Metric(value: Double, unit: String, samples: Int, absent: String = "")

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

/** Minimal JSON rendering; the report holds only strings, numbers, booleans,
  * arrays and objects. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Seq[Double]): String = arr(xs.map(num))
  def metric(m: Metric): String = obj(Seq("value" -> num(m.value), "unit" -> str(m.unit),
    "samples" -> m.samples.toString) ++ (if (m.absent.nonEmpty) Seq("absent" -> str(m.absent)) else Nil))
}

/** Host shape and process counters read from /proc. */
object Host {
  private def procLine(file: String, key: String): Option[Long] =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong)
    catch { case _: Exception => None }

  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def memTotalMb: Double = procLine("/proc/meminfo", "MemTotal").map(_ / 1024.0).getOrElse(0.0)
  /** Peak resident set of this JVM so far. */
  def vmHwmMb: Double = procLine("/proc/self/status", "VmHWM").map(_ / 1024.0).getOrElse(0.0)

  /** Aggregate cpu jiffies from the first line of /proc/stat. */
  def cpuTimes(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
    catch { case _: Exception => Array.fill(10)(0L) }

  /** Share of cpu time stolen by the hypervisor between two readings, in %. */
  def stealPct(a: Array[Long], b: Array[Long]): Double = {
    val d = a.zip(b).map { case (x, y) => (y - x).toDouble }
    if (d.length < 8 || d.sum <= 0) 0.0 else 100.0 * d(7) / d.sum
  }

  def block(sparkConfs: Seq[(String, String)], javaHeapMb: Double): String = {
    val shm = new File("/dev/shm")
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val flags = rt.getInputArguments.asScala.filter(a => a.startsWith("-X") || a.startsWith("-XX"))
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName)
    Json.obj(Seq(
      "nproc" -> nproc.toString,
      "mem_total_mb" -> Json.num(memTotalMb),
      "shm_size_mb" -> Json.num(if (shm.isDirectory) shm.getTotalSpace / 1048576.0 else 0.0),
      "shm_free_mb" -> Json.num(if (shm.isDirectory) shm.getUsableSpace / 1048576.0 else 0.0),
      "jvm_max_heap_mb" -> Json.num(javaHeapMb),
      "jvm_flags" -> Json.arr(flags.toSeq.map(Json.str)),
      "gc" -> Json.arr(gcs.toSeq.map(Json.str)),
      "java_version" -> Json.str(sys.props.getOrElse("java.version", "")),
      "spark_confs" -> Json.obj(sparkConfs.map { case (k, v) => k -> Json.str(v) })))
  }
}

object Files2 {
  /** Regular files under `dir`, sorted by path. */
  def files(dir: String): Seq[File] = {
    val root = new File(dir)
    if (!root.exists()) Nil
    else Files.walk(root.toPath).iterator().asScala.map(_.toFile).filter(_.isFile).toSeq.sortBy(_.getPath)
  }
  /** Bytes of the data files under `dir` (Spark's marker and checksum files excluded). */
  def dataBytes(dir: String): Long =
    files(dir).filterNot(f => f.getName.startsWith("_") || f.getName.startsWith(".")).map(_.length).sum
  def delete(dir: String): Unit = {
    val root = new File(dir)
    if (root.exists())
      Files.walk(root.toPath).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }
}
