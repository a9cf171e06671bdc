package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.spark.{Pipeline, Transcripts}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The production batch, `Pipeline.runResumable` with the default
  * extract-first Config and PipelineMain's default session settings.
  *
  * Set-up derives the transcripts table once from the sf tables, folds a
  * seed-picked range of conversations into one monster conversation
  * (text untouched), writes it as `files` parquet files and holds back
  * the `held` ones; a batch over the held-back files warms the JIT. A
  * round is a full batch into a fresh output directory, then the
  * incremental batch after the held-back files are copied in. The first
  * round's output stays for the checks `run.py` makes, and the first
  * round makes one more call, which must find nothing pending.
  */
final class ExtractBatch(spark: SparkSession, o: Opts, r: Result) {
  private val work = o.work
  private val lo = o.long("monster_lo")
  private val span = o.long("monster_span")
  private val nFiles = o.int("files")
  private val inDir = Paths.get(work, "in")
  private val heldDir = Paths.get(work, "held")
  private val fullS, resumeS = ArrayBuffer[Double]()
  private val fullW, resumeW = ArrayBuffer[Window]()
  private var round = 0

  /** PipelineMain's session defaults (the session is shared with curation). */
  private def pipelineSettings(): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16777216")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
  }

  // ---- set-up: materialise the input table, hold back files, warm up
  locally {
    val held = o.str("held").split(",").map(_.toInt).toSet
    val okey = substring(col("conv_id"), 6, 20).cast("long")
    val inMonster = okey.between(lo, lo + span - 1)
    pipelineSettings()
    // the derivation's window exchange lands the table in `files`
    // partitions, one parquet file each, hashed by order key
    spark.conf.set("spark.sql.shuffle.partitions", nFiles.toString)
    Transcripts.deriveUncached(spark, o.str("sf"))
      .select(
        when(inMonster, lit(s"conv-$lo")).otherwise(col("conv_id")).as("conv_id"),
        when(inMonster, ((okey - lo) * 32 + col("turn_idx")).cast("int"))
          .otherwise(col("turn_idx")).as("turn_idx"),
        col("role"), col("text"), col("tool"), col("ts"))
      .write.parquet(s"$work/staged")
    val files = Fs.list(s"$work/staged", ".parquet")
    require(files.length == nFiles, s"expected $nFiles input files, got ${files.length}")
    Files.createDirectories(inDir); Files.createDirectories(heldDir)
    files.zipWithIndex.foreach { case (f, i) =>
      Files.move(f, (if (held(i)) heldDir else inDir).resolve(f.getFileName))
    }
    Fs.deleteTree(s"$work/staged")
    r.info("monster_lo") = lo.toString
    r.info("monster_span") = span.toString
    r.info("in_dir") = inDir.toString
    r.info("held_dir") = heldDir.toString
    r.info("batch_input_s") = Stats.jvmUptimeS.toString
    pipelineSettings()
    Pipeline.runResumable(spark, heldDir.toString, s"$work/warmup")
    Fs.deleteTree(s"$work/warmup")
    r.info("batch_warm_s") = Stats.jvmUptimeS.toString
  }
  private val heldFiles = Fs.list(heldDir.toString, ".parquet")

  private def copyHeldIn(): Unit = {
    heldFiles.foreach(f => Files.copy(f, inDir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    spark.catalog.refreshByPath(inDir.toString)
  }
  private def removeHeld(): Unit = {
    heldFiles.foreach(f => Files.delete(inDir.resolve(f.getFileName)))
    spark.catalog.refreshByPath(inDir.toString)
  }

  /** One round; returns its timed seconds. */
  def runRound(trace: Option[Trace]): Double = {
    pipelineSettings()
    val out = s"$work/out-$round"
    val fullT = Trace.timed(Pipeline.runResumable(spark, inDir.toString, out))
    copyHeldIn()
    val incT = Trace.timed(Pipeline.runResumable(spark, inDir.toString, out))
    val (full, inc) = (fullT.value, incT.value)
    r.attempted += 2
    fullS += fullT.s; resumeS += incT.s
    trace.foreach { t =>
      fullW += t.window(fullT.t0Ms, fullT.t1Ms); resumeW += t.window(incT.t0Ms, incT.t1Ms)
    }
    if (round == 0) {
      val again = Pipeline.runResumable(spark, inDir.toString, out)
      r.info("out_dir") = out
      r.info("full_batch") = full.batchId
      r.info("full_rows") = full.rowsProcessed.toString
      r.info("full_files") = full.filesProcessed.toString
      r.info("resume_batch") = inc.batchId
      r.info("resume_rows") = inc.rowsProcessed.toString
      r.info("resume_files") = inc.filesProcessed.toString
      r.info("again_rows") = again.rowsProcessed.toString
      r.info("again_files") = again.filesProcessed.toString
    } else Fs.deleteTree(out)
    removeHeld()
    round += 1
    fullT.s + incT.s
  }

  /** Steps of `runResumable`, told apart by the call site of the SQL
    * execution a stage's job belongs to (a line of Pipeline.scala).
    */
  private object Steps {
    val source = Paths.get("src/main/scala/graft/spark/Pipeline.scala")
    private val lines: IndexedSeq[String] =
      if (Files.exists(source)) scala.io.Source.fromFile(source.toFile).getLines().toIndexedSeq
      else IndexedSeq.empty
    private def lineOf(p: String): Int = lines.indexWhere(_.contains(p)) + 1
    private val sinkLine = lineOf(".parquet(batchDir)")
    private val lineageLine = lineOf("lineage.write")
    /** Both call sites were found in the source. */
    def found: Boolean = sinkLine > 0 && lineageLine > 0
    val Traced: Seq[String] = Seq("scan_extract", "sink", "lineage")

    def apply(s: StageRec): String =
      if (sinkLine > 0 && s.execDesc.endsWith(s"Pipeline.scala:$sinkLine"))
        if (s.shuffleWriteBytes > 0) "scan_extract" else "sink"
      else if (lineageLine > 0 && s.execDesc.endsWith(s"Pipeline.scala:$lineageLine")) "lineage"
      else "ledger"
  }

  def report(traced: Boolean): Unit = {
    r.perLayer("extract_turns_per_s") = r.info("full_rows").toDouble / Stats.median(fullS.toSeq)
    r.perLayer("resume_batch_s") = Stats.median(resumeS.toSeq)
    r.perLayer("batch.nodes") =
      spark.read.parquet(s"${r.info("out_dir")}/metrics/batch=${r.info("full_batch")}")
        .agg(sum(col("n_nodes"))).head().getLong(0).toDouble
    if (traced) {
      def step(w: Window, name: String)(f: StageRec => Double): Double =
        w.stages.filter(Steps(_) == name).map(f).sum
      // a step the call sites no longer name would read 0 without these
      r.check("trace.call_sites", Steps.found,
        s"${Steps.source} holds no line with .parquet(batchDir) or lineage.write")
      Steps.Traced.foreach { st =>
        r.check(s"trace.$st", fullW.forall(_.stages.exists(Steps(_) == st)),
          s"a full batch ran no $st stage: its call site in ${Steps.source} moved")
      }
      def med(f: Window => Double): Double = Stats.median(fullW.toSeq.map(f))
      r.perLayer("batch.scan_extract_task_s") = med(step(_, "scan_extract")(_.runS))
      r.perLayer("batch.scan_extract_gc_s") = med(step(_, "scan_extract")(_.gcS))
      r.perLayer("batch.exchange_bytes") = med(step(_, "scan_extract")(_.shuffleWriteBytes.toDouble))
      r.perLayer("batch.exchange_records") = med(step(_, "scan_extract")(_.shuffleWriteRecords.toDouble))
      r.perLayer("batch.exchange_skew") = med { w =>
        val sink = w.stages.filter(Steps(_) == "sink")
        if (sink.isEmpty) 1.0 else sink.maxBy(_.runS).skew
      }
      r.perLayer("batch.sink_task_s") = med(step(_, "sink")(_.runS))
      r.perLayer("batch.lineage_task_s") = med(step(_, "lineage")(_.runS))
      r.perLayer("batch.ledger_task_s") = med(step(_, "ledger")(_.runS))
      r.perLayer("batch.driver_s") = med(_.driverS)
      r.perLayer("batch.busy_share") = med(_.busyShare(o.cores))
      r.perLayer("batch.jobs") = med(_.jobs.length.toDouble)
      r.perLayer("batch.tasks") = med(_.nTasks.toDouble)
      r.perLayer("resume.task_s") = Stats.median(resumeW.toSeq.map(_.taskS))
      r.perLayer("resume.driver_s") = Stats.median(resumeW.toSeq.map(_.driverS))
      r.perLayer("resume.jobs") = Stats.median(resumeW.toSeq.map(_.jobs.length.toDouble))
      r.info("batch_stages") = fullW.head.stages
        .map(s => s"${s.id}:${Steps(s)}:${s.execDesc}").mkString(" | ")
    }
  }
}
