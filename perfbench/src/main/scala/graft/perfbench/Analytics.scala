package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{coalesce, count, lit, pmod, sum, xxhash64}
import graft.SparkEntry

/** `analytics`: registry queries over fixed TPC-H-shaped tables, each
  * timed as its DataFrame construction (`SparkEntry.queries(q)`, where the
  * eager `localCheckpoint`/`count`/`collect` jobs of the iterative
  * kernels run) plus a write of the full result to Spark's `noop` sink.
  * The seed only permutes the query order.
  *
  * The warm-up pass writes every result as Parquet; `run.py` compares
  * each against the query's DuckDB oracle SQL over the same tables. Each
  * pass, the warm-up included, observes an order-independent digest of
  * the rows it writes (`Dataset.observe`, computed as the rows stream to
  * the sink); every timed pass's digest must equal the warm-up's.
  */
object Analytics {
  val Iterative: Seq[String] = Seq("g5_label_propagation",
    "d2_ngram_jaccard", "d6_neardup_clusters")
  val Relational: Seq[String] = Seq("q1_pricing_summary", "a2_percentiles",
    "j6_asof_join", "w4_moving_avg", "f3_math_fns", "f5_json_fns")
  val Families: Seq[(String, Seq[String])] = Seq("iterative" -> Iterative, "relational" -> Relational)

  /** Row count and the sum of per-row 64-bit hashes, each reduced below
    * 2^31 so the sum cannot overflow: equal for equal multisets of rows.
    */
  def digest(df: DataFrame): Seq[Column] = {
    val h = pmod(xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*), lit(Int.MaxValue.toLong))
    Seq(count(lit(1)).as("rows"), coalesce(sum(h), lit(0L)).as("hash"))
  }
  private def pair(r: Row): (Long, Long) = (r.getLong(0), r.getLong(1))

  def run(ctx: Ctx, rep: Report): Unit = {
    val spark = Main.session(ctx.cores)
    val tr = new Tracer(spark, ctx.trace)
    val all = Iterative ++ Relational
    val oracle = SparkEntry.oracleSql
    val missing = all.filterNot(oracle.contains)
    require(missing.isEmpty, s"queries without oracle SQL: ${missing.mkString(",")}")
    val registry = SparkEntry.queries
    val rnd = new Random(ctx.seed)

    // Warm-up pass: JIT and codegen warm, every result kept for the oracle.
    val results = ctx.dir("results")
    val w0 = System.nanoTime()
    val expected = mutable.Map.empty[String, (Long, Long)]
    rnd.shuffle(all).foreach { q =>
      try {
        val df = registry(q)(spark, ctx.data)
        val ob = Observation(s"digest-warm-$q")
        val d = digest(df)
        df.observe(ob, d.head, d.tail: _*).coalesce(1).write.parquet(s"$results/$q")
        expected(q) = pair(Await.result(ob.future, 60.seconds))
      } catch { case e: Exception => rep.fail(s"$q raised $e") }
    }
    val warmNs = System.nanoTime() - w0
    Files.write(Paths.get(ctx.root, "oracle_sql.json"),
      all.map(q => s"${Report.jstr(q)}:${Report.jstr(oracle(q))}").mkString("{", ",", "}").getBytes(UTF_8))
    rep.e2e("setup_s") = (ctx.sinceStartS, "s")

    final case class Sample(q: String, traced: Boolean, buildS: Double, actionS: Double) {
      def s: Double = buildS + actionS
    }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    var pass = 0
    var passNs = warmNs
    // Whole passes: at least two, then more only while they fit in the
    // time. A traced run traces each query in one of every two passes,
    // half of them in the first, so pass order cannot bias the reported
    // tracing overhead.
    while (pass < 2 || System.nanoTime() + passNs <= deadline) {
      val p0 = System.nanoTime()
      rnd.shuffle(all).zipWithIndex.foreach { case (q, j) =>
        val op = pass * all.size + j
        tr.on = ctx.trace && (pass + all.indexOf(q)) % 2 == 1
        try {
          val ob = Observation(s"digest-$op")
          val ((buildMs, actMs), _) = tr.op(s"analytics.$q", op) {
            val (df, b) = Stat.timeMs(tr.span(s"ops.$q.build", op)(registry(q)(spark, ctx.data)))
            val (_, a) = Stat.timeMs(tr.span(s"ops.$q.action", op) {
              val d = digest(df)
              df.observe(ob, d.head, d.tail: _*).write.format("noop").mode("overwrite").save()
            })
            (b, a)
          }
          samples += Sample(q, tr.on, buildMs / 1e3, actMs / 1e3)
          val got = pair(Await.result(ob.future, 60.seconds))
          rep.check(s"$q pass $pass: digest $got, warm-up ${expected.get(q)}")(expected.get(q).contains(got))
        } catch { case e: Exception => rep.attempted += 1; rep.fail(s"$q raised $e") }
      }
      passNs = System.nanoTime() - p0
      pass += 1
    }
    tr.on = false

    // Each query's fastest untraced pass: min-of-N drops passes that a
    // burst of other load on the machine slowed down.
    val plain = samples.filterNot(_.traced).toSeq
    val best = plain.groupBy(_.q).map { case (q, ss) => q -> ss.map(_.s).min }
    rep.e2e("op_ms") = (Stat.geomean(best.values.map(_ * 1e3).toSeq), "ms")
    rep.e2e("ops_per_s") = (best.size / best.values.sum, "1/s")
    Families.foreach { case (fam, qs) =>
      rep.detail(s"${fam}_s") = (qs.flatMap(best.get).sum, "s")
    }
    rep.detail("passes") = (pass.toDouble, "count")

    if (ctx.trace) {
      tr.finish()
      val L = rep.layer
      all.foreach { q =>
        L(s"ops.$q.build_s") = (Stat.mean(tr.named(s"ops.$q.build").map(_.ms / 1e3)), "s")
        L(s"ops.$q.action_s") = (Stat.mean(tr.named(s"ops.$q.action").map(_.ms / 1e3)), "s")
      }
      val traced = samples.filter(_.traced).toSeq
      val tracedPasses = traced.groupBy(_.q).values.map(_.size).maxOption.getOrElse(1)
      Families.foreach { case (fam, qs) =>
        val builds = qs.flatMap(q => tr.named(s"ops.$q.build"))
        val actions = qs.flatMap(q => tr.named(s"ops.$q.action"))
        val spans = builds ++ actions
        val cost = spans.map(_.cost)
        val wall = spans.map(_.ms / 1e3).sum
        val run = cost.map(_.runMs).sum / 1e3
        def per(x: Double) = x / tracedPasses
        L(s"ops.$fam.build_jobs") = (per(builds.map(_.cost.jobs).sum), "count")
        L(s"ops.$fam.jobs") = (per(cost.map(_.jobs).sum), "count")
        L(s"ops.$fam.executor_run_s") = (per(run), "s")
        L(s"ops.$fam.executor_cpu_s") = (per(cost.map(_.cpuNs).sum / 1e9), "s")
        L(s"ops.$fam.slot_util") = (if (wall > 0) run / (wall * ctx.cores) else 0.0, "ratio")
        L(s"ops.$fam.shuffle_mb") = (per(cost.map(_.shuffleBytes).sum / 1048576.0), "MB")
        L(s"ops.$fam.spill_mb") = (per(cost.map(_.spillBytes).sum / 1048576.0), "MB")
        L(s"ops.$fam.gc_s") = (per(cost.map(_.gcMs).sum / 1e3), "s")
        L(s"ops.$fam.build_s") = (per(builds.map(_.ms / 1e3).sum), "s")
        L(s"ops.$fam.action_s") = (per(actions.map(_.ms / 1e3).sum), "s")
        val ph = tr.phasesWithin(actions)
        Seq("analysis", "optimization", "planning").foreach { p =>
          L(s"action.$fam.${p}_ms") = (per(ph.map(_.getOrElse(p, 0L)).sum.toDouble), "ms")
        }
      }
      L("trace.overhead_pct") = ((Stat.mean(traced.map(_.s)) / Stat.mean(plain.map(_.s)) - 1) * 100, "%")
      tr.report(rep)
    }
  }
}
