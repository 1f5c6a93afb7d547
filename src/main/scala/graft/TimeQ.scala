package graft
import org.apache.spark.sql.SparkSession

/** Diagnostic: time named queries twice in one warm session at sf0.1 —
  * separates cold codegen/JIT cost (run1 − run2) from steady-state compute
  * (run2). Usage: `sbt "runMain graft.TimeQ q22_ngram_jaccard_topk ..."` */
object TimeQ {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CONF="k=v;k=v" — ad-hoc conf overrides for A/B
    // experiments (diagnostic only; the bench never reads this).
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", sys.env.getOrElse("SPARK_GRAFT_PAGE_SIZE", "1m"))
      .config("spark.sql.codegen.cache.maxEntries", sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Untimed warmup; tolerant of partial tiers (target/sf1 carries only
    // documents+embeddings).
    try SparkEntry.queries("q02_count_all")(spark, dir).count()
    catch { case _: Throwable => () }
    // "shared:<name>" times a SharedPipelines build pipeline UNCACHED
    // (the raw DataFrame, not the session-pinned checkpoint), so run2
    // measures the build's steady cost instead of a cache hit.
    def run(n: String): Unit = n match {
      case s if s.startsWith("shared:") =>
        graft.tools.SharedPlansRef.builds(spark, dir)(s.stripPrefix("shared:"))().count()
      case q => SparkEntry.queries(q)(spark, dir).count()
    }
    for (n <- args; i <- 1 to 2) {
      val t0 = System.nanoTime()
      run(n)
      println(f"TIME $n run$i ${(System.nanoTime()-t0)/1e9}%.3f")
      // Same untimed between-run hygiene as Bench, so isolated TimeQ
      // numbers and in-bench numbers measure the same thing.
      graft.engine.Hygiene.sweep(spark)
    }
    spark.stop()
  }
}
