package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Diagnostic (optimization rounds): run named `SparkEntry` queries once
  * warm and print a PER-STAGE cost table — executor run time, executor CPU
  * time, shuffle read/write bytes, spill, task count and the stage's name
  * (which carries the last call site) — the guide §1 "where is the time
  * actually going" loop without a live UI. Plus the per-query job count,
  * the scheduler-overhead proxy that dominates tiny-SF benches.
  *
  * Usage: `sbt "runMain graft.tools.Profile q141_tuned_ann ..."`
  * (SPARK_GRAFT_SF_DIR selects the tier; default sf0.1.)
  */
object Profile {
  private final case class StageRow(name: String, tasks: Int, runMs: Long,
      cpuMs: Long, shufReadB: Long, shufWriteB: Long, spillB: Long,
      inputB: Long)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", sys.env.getOrElse("SPARK_GRAFT_PAGE_SIZE", "1m"))
      .config("spark.sql.codegen.cache.maxEntries", sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val stages = mutable.Map[Int, StageRow]()
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) stages(si.stageId) = StageRow(
          si.name, si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
      }
    }

    try SparkEntryRef.queries("q02_count_all")(spark, dir).count()
    catch { case _: Throwable => () }

    // GRAFT_PROFILE_COLD=1 skips the per-query warm run, so the profiled
    // run includes one-time work (shared pipeline builds, codegen).
    val cold = sys.env.get("GRAFT_PROFILE_COLD").contains("1")
    for (n <- args) {
      // warm run (codegen/JIT) — not profiled
      if (!cold) { graft.SparkEntry.queries(n)(spark, dir).count() }
      graft.engine.Hygiene.sweep(spark)
      stages.clear(); jobs = 0
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // listener bus is async; let the tail drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== $n wall=$wall%.3f s jobs=$jobs stages=${stages.size} =====")
      println(f"${"runMs"}%7s ${"cpuMs"}%7s ${"tasks"}%5s ${"shR_KB"}%8s ${"shW_KB"}%8s ${"in_KB"}%8s ${"spill"}%6s  name")
      stages.toSeq.sortBy(-_._2.runMs).take(25).foreach { case (_, r) =>
        println(f"${r.runMs}%7d ${r.cpuMs}%7d ${r.tasks}%5d ${r.shufReadB / 1024}%8d ${r.shufWriteB / 1024}%8d ${r.inputB / 1024}%8d ${r.spillB / 1024}%6d  ${r.name.take(110)}")
      }
      val totRun = stages.valuesIterator.map(_.runMs).sum
      val totCpu = stages.valuesIterator.map(_.cpuMs).sum
      println(f"TOTAL runMs=$totRun cpuMs=$totCpu (wall ${wall * 1000}%.0f ms; sched/plan gap = ${wall * 1000 - totRun.toDouble / cpus}%.0f ms if perfectly parallel)")
      graft.engine.Hygiene.sweep(spark, gc = true)
    }
    spark.stop()
  }

  /** Indirection so the warmup tolerates partial tiers like TimeQ. */
  private object SparkEntryRef {
    def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      graft.SparkEntry.queries
  }
}
