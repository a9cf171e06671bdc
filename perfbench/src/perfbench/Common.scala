package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Command-line options: `--key value` pairs. */
final class Opts(args: Array[String]) {
  private val m: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing option --$k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def bool(k: String): Boolean = m.get(k).contains("1")
  def work: String = str("work")
  def seed: Long = long("seed")
  def seconds: Double = str("seconds").toDouble
  def trace: Boolean = bool("trace")
  def cores: Int = int("cores")
}

/** What one workload run hands back to `run.py` (written as JSON). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap[String, String]() // name -> "" if ok, else why
  val endToEnd = mutable.LinkedHashMap[String, Double]()
  val perLayer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()

  /** Records a check; the first failure under a name is the one kept. */
  def check(name: String, ok: Boolean, why: => String): Unit =
    if (!ok) { if (checks.getOrElse(name, "").isEmpty) checks(name) = why }
    else checks.getOrElseUpdate(name, "")

  def toJson: String = {
    import org.json4s.{JLong, JObject}
    Json.text(JObject(
      "attempted" -> JLong(attempted), "failed" -> JLong(failed),
      "checks" -> Json.strings(checks), "end_to_end" -> Json.numbers(endToEnd),
      "per_layer" -> Json.numbers(perLayer), "info" -> Json.strings(info)))
  }
}

/** JSON objects of strings or numbers, written with json4s. */
object Json {
  import org.json4s.{JDouble, JObject, JString, JValue}
  def strings(kv: Iterable[(String, String)]): JObject =
    JObject(kv.map { case (k, v) => k -> JString(v) }.toList)
  /** A number that is not finite (a rate over no time) is written as 0. */
  def numbers(kv: Iterable[(String, Double)]): JObject =
    JObject(kv.map { case (k, v) => k -> JDouble(if (v.isNaN || v.isInfinite) 0.0 else v) }.toList)
  def text(v: JValue): String = org.json4s.jackson.JsonMethods.compact(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds since the JVM started (set-up is measured from JVM start). */
  def jvmUptimeS: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally w.close()
    }
  def deleteTree(s: String): Unit = deleteTree(Paths.get(s))

  /** Regular files directly under `dir` whose name ends with `suffix`, sorted. */
  def list(dir: String, suffix: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq
        .sortBy(_.getFileName.toString)
    } finally s.close()
  }
}
