package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` starts it as
  *   perfbench.Main --workload W --work DIR --seed N --seconds S --trace 0|1 ...
  * and reads DIR/result.json when it exits.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val r = o.str("workload") match {
      case "batch_curation" => batchCuration(o)
      case "parse_pages" if o.bool("selftest") => ParsePages.selfTest(o)
      case "parse_pages" => ParsePages.run(o)
      case w => sys.error(s"unknown workload $w")
    }
    Files.write(Paths.get(o.work, "result.json"), r.toJson.getBytes(UTF_8))
  }

  /** Workload `batch_curation`: one session runs the production batch
    * ([[ExtractBatch]]) and the curation compositions ([[Curation]]). A
    * round is a round of each (of the curation queries in the traced run
    * only, see [[Curation]]); `op_s` times the batch only.
    */
  def batchCuration(o: Opts): Result = {
    val r = new Result
    val spark = session(o, shufflePartitions = 32)
    r.info("session_s") = Stats.jvmUptimeS.toString
    val batch = new ExtractBatch(spark, o, r)
    val curation = new Curation(spark, o, r)
    val setupS = Stats.jvmUptimeS
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val batchS = collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while (batchS.isEmpty || Stats.secondsSince(t0) < o.seconds) {
      batchS += batch.runRound(trace)
      trace.foreach(curation.runRound)
    }
    r.info("rounds") = batchS.length.toString
    r.endToEnd("setup_s") = setupS
    // the production batch alone (full + incremental): with the curation
    // queries in it, a batch regression would be diluted below the noise.
    // The query times are per-layer metrics.
    r.endToEnd("op_s") = Stats.median(batchS.toSeq)
    batch.report(o.trace)
    if (o.trace) curation.report()
    spark.stop()
    r
  }

  /** A local session with at most `cores` task threads, no UI, and every
    * scratch file under the run's own directory.
    */
  def session(o: Opts, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.str("workload")}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
