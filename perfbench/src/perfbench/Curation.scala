package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.{Bench, SparkEntry}
import graft.spark.Transcripts
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Three training-data compositions from `SparkEntry.queries`, each
  * forced through the noop sink by `graft.Bench.runQuery`, with the
  * session shape `graft.Bench` uses (shuffle partitions = task threads).
  *
  * Set-up materialises the transcripts table (as `graft.Bench` does, so
  * no query pays re-derivation) at the timed scale `sf` and at the
  * smaller `check_sf`, then runs each query once at `check_sf` into
  * parquet: that untimed write warms the JIT and is the output `run.py`
  * checks. (A second sf0.1 execution of each query per run does not fit
  * the run budget.) A round runs the three queries at `sf` in a fixed
  * order. Their times are per-layer metrics, so only the traced run
  * makes rounds; every run makes the set-up and its checked outputs.
  */
final class Curation(spark: SparkSession, o: Opts, r: Result) {
  private val Queries: Seq[(String, String)] = Seq(
    "masked_pipeline" -> "q_masked_pipeline",
    "dedup_corpus" -> "q_dedup_corpus",
    "curation_v2" -> "q_curation_pipeline_v2")
  /** Queries whose output `run.py` compares with the DuckDB oracle. */
  private val WithOracle: Seq[String] = Seq("q_dedup_corpus", "q_curation_pipeline_v2")

  private val sf = o.str("sf")
  private val checkSf = o.str("check_sf")
  private val times = Queries.map(_._1 -> ArrayBuffer[Double]()).toMap
  private val windows = Queries.map(_._1 -> ArrayBuffer[Window]()).toMap

  /** graft.Bench's session shape. */
  private def benchSettings(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", o.cores.toString)
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
  }

  locally {
    val work = o.work
    benchSettings()
    Seq(sf, checkSf).distinct.foreach { dir =>
      val t = s"$work/transcripts-${dir.hashCode}"
      Transcripts.deriveUncached(spark, dir).write.parquet(t)
      Transcripts.primeCache(spark, dir, spark.read.parquet(t))
    }
    r.info("curation_input_s") = Stats.jvmUptimeS.toString
    Queries.foreach { case (_, q) =>
      SparkEntry.queries(q)(spark, checkSf).write.parquet(s"$work/out/$q")
    }
    val oracle = Json.strings(WithOracle.map(q => q -> SparkEntry.oracleSql(q)))
    Files.write(Paths.get(work, "oracle_sql.json"), Json.text(oracle).getBytes(UTF_8))
    r.info("curation_out_dir") = s"$work/out"
    r.info("check_sf") = checkSf
    r.info("curation_warm_s") = Stats.jvmUptimeS.toString
  }

  /** One timed round of the three queries at `sf`. */
  def runRound(trace: Trace): Unit = {
    benchSettings()
    Queries.foreach { case (name, q) =>
      val t = Trace.timed(Bench.runQuery(SparkEntry.queries(q)(spark, sf)))
      r.attempted += 1
      times(name) += t.s
      windows(name) += trace.window(t.t0Ms, t.t1Ms)
    }
  }

  def report(): Unit =
    Queries.foreach { case (name, _) =>
      def med(f: Window => Double): Double = Stats.median(windows(name).toSeq.map(f))
      r.perLayer(s"${name}_s") = Stats.median(times(name).toSeq)
      r.perLayer(s"$name.task_s") = med(_.taskS)
      r.perLayer(s"$name.gc_s") = med(_.gcS)
      r.perLayer(s"$name.driver_s") = med(_.driverS)
      r.perLayer(s"$name.busy_share") = med(_.busyShare(o.cores))
      r.perLayer(s"$name.jobs") = med(_.jobs.length.toDouble)
      r.perLayer(s"$name.stages") = med(_.stages.length.toDouble)
      r.perLayer(s"$name.shuffle_bytes") = med(_.shuffleBytes.toDouble)
      r.perLayer(s"$name.shuffle_records") = med(_.shuffleRecords.toDouble)
      r.perLayer(s"$name.skew") = med(_.reduceSkew)
      r.perLayer(s"$name.spill_bytes") = med(_.spillBytes.toDouble)
    }
}
