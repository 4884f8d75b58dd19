package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> <suffix> <q1,q2,...>
  * Writes <outDir>/<name>_<suffix>.txt for each query name.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args
    val qs = Harness.pick(names, SparkEntry.queries.keySet, "ExplainDump query list")
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    qs.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
        System.err.println(s"[explain] wrote $outDir/${n}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $n failed: ${e.getMessage}")
      } finally Harness.release(spark, blocking = false)
    }
    spark.stop()
  }
}
