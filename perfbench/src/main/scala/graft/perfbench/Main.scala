package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession

/** Everything a workload needs from the command line. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     root: String, data: String, cores: Int, t0Ns: Long) {
  /** A fresh directory under the run's temp root. */
  def dir(name: String): String = {
    val p = Paths.get(root, name)
    Files.createDirectories(p.getParent)
    p.toString
  }
  def sinceStartS: Double = (System.nanoTime() - t0Ns) / 1e9
}

/** Benchmark JVM entry point. `perfbench/run.py` builds the classpath,
  * launches this with one workload, and turns the report it writes into
  * the benchmark's result line.
  *
  * Usage: Main --workload <ingest|analytics> --seed <n> --seconds <s>
  *             --trace <0|1> --root <temp dir> --data <sf dir> --out <report.json>
  *             --cores <n>
  */
object Main {
  def session(cores: Int): SparkSession = {
    val s = GraftSession.create(s"local[$cores]", cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Build a DataFrame of generated events, split into `slices` tasks. */
  def frame(spark: SparkSession, rows: Seq[Event], slices: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(_.row), slices), Event.schema)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("root"), a("data"), cores, t0)
    val rep = new Report
    rep.env("workload") = ctx.workload
    rep.env("seed") = ctx.seed.toString
    rep.env("master") = s"local[$cores]"
    rep.env("max_heap_mb") = (Runtime.getRuntime.maxMemory >> 20).toString
    val run: (Ctx, Report) => Unit = ctx.workload match {
      case "ingest" => Ingest.run
      case "analytics" => Analytics.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try run(ctx, rep)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        rep.fail(s"${ctx.workload} aborted: $e")
    }
    Files.write(Paths.get(a("out")), rep.json.getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}
